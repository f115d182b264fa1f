package graft

import graft.sources.{DeltaDvWriter, DeltaLog, DeltaWriter, Sources}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import java.nio.file.Files

/**
 * Delta table as a streaming SOURCE (graft-delta): initial snapshot +
 * tailed commits, exactly-once across restarts, startingVersion /
 * maxFilesPerTrigger / ignoreDeletes / ignoreChanges semantics matching
 * delta-spark's DeltaSource.
 */
class DeltaStreamSourceSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("dstream").toString

  private var n = 0
  private def mem(): String = { n += 1; s"dss_$n" }

  test("initial snapshot then tailed appends, each exactly once") {
    val root = tmp()
    DeltaWriter.write(Seq((1, "a"), (2, "b")).toDF("k", "v"), root)
    DeltaWriter.write(Seq((3, "c")).toDF("k", "v"), root)
    val name = mem()
    val q = spark.readStream.format("graft-delta").load(root)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", tmp()).start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).as[(Int, String)].collect().toSet ==
        Set((1, "a"), (2, "b"), (3, "c")))
      DeltaWriter.write(Seq((4, "d")).toDF("k", "v"), root)
      q.processAllAvailable()
      assert(spark.table(name).count() == 4)
      assert(spark.table(name).as[(Int, String)].collect().toSet ==
        Set((1, "a"), (2, "b"), (3, "c"), (4, "d")))
    } finally q.stop()
  }

  test("startingVersion tails from that commit; 'latest' only new data") {
    val root = tmp()
    DeltaWriter.write(Seq((1, "a")).toDF("k", "v"), root) // v0
    DeltaWriter.write(Seq((2, "b")).toDF("k", "v"), root) // v1
    val name = mem()
    val q = spark.readStream.format("graft-delta")
      .option("startingVersion", "1").load(root)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", tmp()).start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).as[(Int, String)].collect().toSet == Set((2, "b")))
    } finally q.stop()

    val name2 = mem()
    val q2 = spark.readStream.format("graft-delta")
      .option("startingVersion", "latest").load(root)
      .writeStream.format("memory").queryName(name2)
      .option("checkpointLocation", tmp()).start()
    try {
      q2.processAllAvailable()
      assert(spark.table(name2).count() == 0)
      DeltaWriter.write(Seq((9, "z")).toDF("k", "v"), root)
      q2.processAllAvailable()
      assert(spark.table(name2).as[(Int, String)].collect().toSet == Set((9, "z")))
    } finally q2.stop()
  }

  test("maxFilesPerTrigger bounds batches but loses nothing") {
    val root = tmp()
    DeltaWriter.write((0 until 40).toDF("k").repartition(8), root)
    val name = mem()
    val q = spark.readStream.format("graft-delta")
      .option("maxFilesPerTrigger", "2").load(root)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", tmp()).start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() == 40)
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length >= 3,
        s"2-files-per-trigger over 8 files should take >=4 batches, " +
          s"saw ${batches.length}")
    } finally q.stop()
  }

  test("maxBytesPerTrigger bounds batches by size, still makes progress") {
    val root = tmp()
    DeltaWriter.write((0 until 40).toDF("k").repartition(8), root)
    val name = mem()
    val q = spark.readStream.format("graft-delta")
      .option("maxBytesPerTrigger", "1") // below any file: one file/batch
      .load(root)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", tmp()).start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() == 40)
      assert(q.recentProgress.count(_.numInputRows > 0) >= 8,
        "1-byte cap must admit exactly one file per batch")
    } finally q.stop()
  }

  test("exactly-once across restart: no re-emission after checkpoint") {
    val root = tmp()
    val out = tmp()
    val cp = tmp()
    DeltaWriter.write((0 until 10).toDF("k"), root)
    val q1 = spark.readStream.format("graft-delta")
      .option("maxFilesPerTrigger", "1").load(root)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", cp).start()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(out).count() == 10)
    // new data lands while the stream is DOWN; restart must emit ONLY it
    DeltaWriter.write((10 until 15).toDF("k"), root)
    val q2 = spark.readStream.format("graft-delta")
      .option("maxFilesPerTrigger", "1").load(root)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", cp).start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(out)
    assert(got.count() == 15, "restart duplicated or dropped rows")
    assert(got.as[Int].collect().toSet == (0 until 15).toSet)
  }

  test("a delete fails the stream unless ignoreDeletes") {
    val root = tmp()
    DeltaWriter.write((0 until 20).map(i => (i, i % 2)).toDF("k", "m"), root)
    val name = mem()
    val q = spark.readStream.format("graft-delta").load(root)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", tmp()).start()
    try {
      q.processAllAvailable()
      // a full-file remove commit (overwrite drops everything)
      DeltaWriter.write(Seq((100, 0)).toDF("k", "m"), root, mode = "overwrite")
      val e = intercept[StreamingQueryException] { q.processAllAvailable() }
      assert(e.getMessage.contains("ignoreChanges") ||
        e.getCause.getMessage.contains("ignoreChanges"))
    } finally q.stop()

    // with ignoreChanges the rewritten adds re-emit and the stream lives
    val name2 = mem()
    val q2 = spark.readStream.format("graft-delta")
      .option("ignoreChanges", "true")
      .option("startingVersion", "0").load(root)
      .writeStream.format("memory").queryName(name2)
      .option("checkpointLocation", tmp()).start()
    try {
      q2.processAllAvailable()
      assert(spark.table(name2).count() == 21) // 20 originals + rewrite
    } finally q2.stop()
  }

  test("DV delete commit requires ignoreChanges; re-emits the file whole") {
    val root = tmp()
    DeltaWriter.write((0 until 10).map(i => (i, i % 2)).toDF("k", "m")
      .coalesce(1), root)
    DeltaDvWriter.delete(spark, root, "m = 1") // remove+add(dv) commit
    val name = mem()
    val q = spark.readStream.format("graft-delta")
      .option("startingVersion", "0")
      .option("ignoreChanges", "true").load(root)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", tmp()).start()
    try {
      q.processAllAvailable()
      // v0 file (10 rows) + v1 re-add of the same file emitted WHOLE
      assert(spark.table(name).count() == 20)
    } finally q.stop()
  }

  test("partitioned table streams with partition values attached") {
    val root = tmp()
    DeltaWriter.write((0 until 30).map(i => (i, s"d${i % 3}")).toDF("k", "day"),
      root, partitionBy = Seq("day"))
    val name = mem()
    val q = spark.readStream.format("graft-delta").load(root)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", tmp()).start()
    try {
      q.processAllAvailable()
      val got = spark.table(name)
      assert(got.count() == 30)
      assert(got.groupBy("day").count().collect().map(_.getLong(1)).toSet == Set(10L))
    } finally q.stop()
  }

  test("declarative surface: ReadConfig(streaming=true, delta) streams") {
    val root = tmp()
    DeltaWriter.write(Seq((1, "x")).toDF("k", "v"), root)
    val df = Sources.read(spark,
      Sources.ReadConfig("delta", path = Some(root), streaming = true))
    assert(df.isStreaming)
    val name = mem()
    val q = df.writeStream.format("memory").queryName(name)
      .option("checkpointLocation", tmp()).start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() == 1)
    } finally q.stop()
  }

  test("readChangeFeed: snapshot as inserts, then deletes/inserts as changes") {
    val root = tmp()
    DeltaWriter.write(Seq((1, "a"), (2, "b")).toDF("k", "v"), root) // v0
    DeltaWriter.write(Seq((3, "c")).toDF("k", "v"), root)           // v1
    val name = mem()
    val q = spark.readStream.format("graft-delta")
      .option("readChangeFeed", "true").load(root)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", tmp()).start()
    try {
      q.processAllAvailable()
      val snap = spark.table(name).collect()
      assert(snap.length == 3)
      assert(snap.forall(r => r.getAs[String]("_change_type") == "insert"))
      assert(snap.forall(r => r.getAs[Long]("_commit_version") == 1L))
      // a DV delete arrives as change rows; an append as inserts
      DeltaDvWriter.delete(spark, root, "k = 2") // v2
      DeltaWriter.write(Seq((4, "d")).toDF("k", "v"), root) // v3
      q.processAllAvailable()
      val rows = spark.table(name)
        .select("k", "_change_type", "_commit_version").as[(Int, String, Long)]
        .collect().toSet
      assert(rows.contains((2, "delete", 2L)), rows.toString)
      assert(rows.contains((4, "insert", 3L)), rows.toString)
      assert(rows.size == 5)
    } finally q.stop()
  }

  test("readChangeFeed with startingVersion streams the full history") {
    val root = tmp()
    DeltaWriter.write(Seq((1, "a")).toDF("k", "v"), root)          // v0
    DeltaWriter.write(Seq((2, "b")).toDF("k", "v"), root)          // v1
    DeltaDvWriter.delete(spark, root, "k = 1")                     // v2
    val name = mem()
    val q = spark.readStream.format("graft-delta")
      .option("readChangeFeed", "true").option("startingVersion", "0")
      .option("maxFilesPerTrigger", "1") // one VERSION per batch here
      .load(root)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", tmp()).start()
    try {
      q.processAllAvailable()
      val rows = spark.table(name)
        .select("k", "_change_type", "_commit_version").as[(Int, String, Long)]
        .collect().toSet
      assert(rows == Set((1, "insert", 0L), (2, "insert", 1L), (1, "delete", 2L)),
        rows.toString)
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
        "maxFilesPerTrigger=1 should split versions into batches")
    } finally q.stop()
  }

  test("CDF tail: one bulk commit drains as file-level batches across a restart") {
    val root = tmp(); val out = tmp(); val cp = tmp()
    DeltaWriter.write(Seq((0, "seed")).toDF("k", "v"), root)              // v0: 1 file
    DeltaWriter.write((1 to 30).map(i => (i, s"r$i")).toDF("k", "v")
      .repartition(6), root)                                              // v1: 6 files
    def reader() = spark.readStream.format("graft-delta")
      .option("readChangeFeed", "true").option("startingVersion", "0")
      .option("maxFilesPerTrigger", "2").load(root)
    // one capped batch via Trigger.Once: stops MID-commit (2 of 7 change
    // files) — the shape that used to land v1 as one unbounded batch
    val q1 = reader().writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.Once()).start()
    q1.awaitTermination()
    val partial = spark.read.parquet(out).count()
    assert(partial > 0 && partial < 31, s"expected a mid-commit stop, got $partial")
    // more data while down; the restart finishes v1 exactly once, then v2
    DeltaWriter.write(Seq((100, "x")).toDF("k", "v"), root)               // v2
    val q2 = reader().writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", cp).start()
    try {
      q2.processAllAvailable()
      assert(q2.recentProgress.count(_.numInputRows > 0) >= 3,
        "the 2-file cap should split the remaining backlog into >=3 batches")
    } finally q2.stop()
    val got = spark.read.parquet(out)
    assert(got.count() == 32, "file-level CDF restart duplicated or dropped changes")
    assert(got.select("k").as[Int].collect().toSet == ((0 to 30).toSet + 100))
    assert(got.filter(col("_change_type") === "insert").count() == 32)
  }

  test("CDF snapshot rows carry the commit timestamp, not the commit file's mtime") {
    import graft.sources.DeltaMaintenance
    val root = tmp()
    DeltaWriter.write(Seq((1, "a")).toDF("k", "v"), root) // v0
    DeltaWriter.write(Seq((2, "b")).toDF("k", "v"), root) // v1
    // move v1's commit file an hour later; its commitInfo.timestamp stays
    val v1 = new org.apache.hadoop.fs.Path(root, "_delta_log/00000000000000000001.json")
    val fs = v1.getFileSystem(spark.sessionState.newHadoopConf())
    val mtime = fs.getFileStatus(v1).getModificationTime + 3600 * 1000L
    fs.setTimes(v1, mtime, -1)
    val committed = DeltaMaintenance.history(spark, root)
      .filter(col("version") === 1L).head().getAs[Long]("timestamp")
    assert(committed != mtime)
    def stamps(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("_commit_timestamp").as[java.sql.Timestamp].collect().map(_.getTime).toSet
    assert(stamps(DeltaLog.changes(spark, root, 1L)) == Set(committed))
    val name = mem()
    val q = spark.readStream.format("graft-delta")
      .option("readChangeFeed", "true").load(root)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", tmp()).start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() == 2)
      assert(stamps(spark.table(name)) == Set(committed),
        s"snapshot rows should carry v1's commit timestamp $committed (file mtime $mtime)")
    } finally q.stop()
  }

  test("CDF: legacy whole-version cursors from old checkpoints still resume") {
    import graft.sources.DeltaStreamSource
    val root = tmp()
    DeltaWriter.write(Seq((1, "a")).toDF("k", "v"), root) // v0
    DeltaWriter.write(Seq((2, "b")).toDF("k", "v"), root) // v1
    val s = new DeltaStreamSource(spark, root,
      Map("readChangeFeed" -> "true", "startingVersion" -> "0"))
    val end = s.getOffset.get
    // an old checkpoint's WAL offset: whole-version form, no fileLevel
    // mark — (0, 1) means "v0 consumed WHOLE", so the batch is v1 only
    val legacy = DeltaStreamSource.DeltaSourceOffset(0L, 1L, snapshot = false)
    assert(batchRows(s.getBatch(Some(legacy), end)) == 1,
      "a legacy CDF cursor must tail from the NEXT version, not re-slice its own")
  }

  test("schema change mid-stream fails loudly") {
    val root = tmp()
    DeltaWriter.write(Seq((1, "a")).toDF("k", "v"), root)
    val name = mem()
    val q = spark.readStream.format("graft-delta").load(root)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", tmp()).start()
    try {
      q.processAllAvailable()
      DeltaWriter.write(Seq((2, "b", 1.5)).toDF("k", "v", "w"), root,
        schemaPolicy = graft.sources.DeltaSchema.Evolve)
      val e = intercept[StreamingQueryException] { q.processAllAvailable() }
      assert(e.getMessage.contains("schema changed") ||
        e.getCause.getMessage.contains("schema changed"))
    } finally q.stop()
  }

  test("mid-snapshot restart with commits landed while down stays exactly-once") {
    val root = tmp(); val out = tmp(); val cp = tmp()
    DeltaWriter.write((0 until 30).toDF("k").repartition(6), root) // v0: 6 files
    // one capped batch, stopping MID-snapshot
    val q1 = spark.readStream.format("graft-delta")
      .option("maxFilesPerTrigger", "2").load(root)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.Once()).start()
    q1.awaitTermination()
    val partial = spark.read.parquet(out).count()
    assert(partial > 0 && partial < 30, s"expected a mid-snapshot stop, got $partial")
    // commits land while DOWN; the restart must finish the PINNED v0
    // snapshot from its own file list, then tail v1/v2 — not index into
    // a re-based current file list
    DeltaWriter.write((100 until 105).toDF("k"), root) // v1
    DeltaWriter.write((200 until 205).toDF("k"), root) // v2
    val q2 = spark.readStream.format("graft-delta").load(root)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", cp).start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(out)
    assert(got.count() == 40, "restart duplicated or dropped rows")
    assert(got.as[Int].collect().toSet ==
      ((0 until 30) ++ (100 until 105) ++ (200 until 205)).toSet)
  }

  test("schemaTrackingLocation: additive evolution resumes after restart") {
    val root = tmp(); val cp = tmp(); val track = tmp(); val out = tmp()
    DeltaWriter.write(Seq((1, "a")).toDF("k", "v"), root) // v0
    def start() = spark.readStream.format("graft-delta")
      .option("schemaTrackingLocation", track).load(root)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", cp).start()
    val q1 = start()
    val e = try {
      q1.processAllAvailable()
      assert(spark.read.parquet(out).count() == 1)
      // the table WIDENS while the stream is RUNNING: the run must fail
      // (its declared schema is fixed), recording the change for restart
      DeltaWriter.write(Seq((2, "b", 1.5)).toDF("k", "v", "w"), root,
        schemaPolicy = graft.sources.DeltaSchema.Evolve)
      intercept[StreamingQueryException] { q1.processAllAvailable() }
    } finally q1.stop()
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("restart the stream to continue"), msg)
    // more data while down; the restart serves the WIDENED schema and
    // drains the backlog with null-filled history
    DeltaWriter.write(Seq((3, "c", 2.5)).toDF("k", "v", "w"), root)
    val q3 = start()
    try q3.processAllAvailable() finally q3.stop()
    val got = spark.read.option("mergeSchema", "true").parquet(out)
    assert(got.columns.sorted.toSeq == Seq("k", "v", "w"))
    val rows = got.select("k", "v", "w").as[(Int, String, Option[Double])]
      .collect().toSet
    assert(rows == Set((1, "a", None), (2, "b", Some(1.5)), (3, "c", Some(2.5))),
      rows.toString)
  }

  test("column-mapped RENAME tracks by field id and the stream resumes") {
    import org.apache.spark.sql.types._
    val root = tmp(); val cp = tmp(); val track = tmp(); val out = tmp()
    // hand-build a name-mapped table: logical (k, v), physical col-a/col-b
    val cm = (name: String, dt: DataType, phys: String, id: Long) =>
      StructField(name, dt, nullable = true, new MetadataBuilder()
        .putString("delta.columnMapping.physicalName", phys)
        .putLong("delta.columnMapping.id", id).build())
    val logical = StructType(Seq(
      cm("k", LongType, "col-a", 1), cm("v", StringType, "col-b", 2)))
    val staging = Files.createTempDirectory("cmrename").toFile
    Seq((1L, "a")).toDF("x", "y")
      .select(col("x").as("col-a"), col("y").as("col-b"))
      .coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val part = staging.listFiles().find(f =>
      f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
    val dest = new java.io.File(root, "d0.parquet")
    java.nio.file.Files.copy(part.toPath, dest.toPath)
    val jq = (s: String) => "\"" + s + "\""
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, "_delta_log"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_delta_log", "00000000000000000000.json"),
      Seq(
        """{"commitInfo":{"timestamp":1000,"operation":"WRITE"}}""",
        """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":${
          new com.fasterxml.jackson.databind.ObjectMapper()
            .writeValueAsString(logical.json)},"partitionColumns":[],"configuration":{${
          jq("delta.columnMapping.mode")}:${jq("name")},${
          jq("delta.columnMapping.maxColumnId")}:${jq("2")}},"createdTime":1}}""",
        s"""{"add":{"path":"d0.parquet","partitionValues":{},"size":1,"modificationTime":1000,"dataChange":true}}""")
        .mkString("\n").getBytes("UTF-8"))

    def start() = spark.readStream.format("graft-delta")
      .option("schemaTrackingLocation", track).load(root)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", cp).start()
    val q1 = start()
    val e = try {
      q1.processAllAvailable()
      assert(spark.read.parquet(out).count() == 1)
      // the column renames while the stream RUNS: metadata-only commit,
      // same field id and physical name — the run fails, recording the
      // id-equivalent schema for restart
      DeltaWriter.renameColumn(spark, root, "v", "label") // v1
      intercept[StreamingQueryException] { q1.processAllAvailable() }
    } finally q1.stop()
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("restart the stream to continue"), msg)
    assert(msg.contains("column-mapping id"), msg)
    // data lands under the NEW name while down; the restart serves it
    DeltaWriter.write(Seq((2L, "b")).toDF("k", "label"), root) // v2
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.option("mergeSchema", "true").parquet(out)
    assert(got.count() == 2, "rename restart duplicated or dropped rows")
    assert(got.filter(col("label") === "b").select("k").as[Long]
      .collect().toSeq == Seq(2L))

    // a FRESH stream over the whole history serves the RENAMED schema,
    // and the pre-rename file's bytes resolve by PHYSICAL name
    val name = mem()
    val q3 = spark.readStream.format("graft-delta")
      .option("startingVersion", "0").load(root)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", tmp()).start()
    try {
      q3.processAllAvailable()
      val t = spark.table(name)
      assert(t.columns.toSeq == Seq("k", "label"), t.columns.mkString(","))
      assert(t.as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")),
        "pre-rename file did not resolve by column-mapping id")
    } finally q3.stop()
  }

  test("without tracking, evolution still fails permanently and suggests the option") {
    val root = tmp()
    DeltaWriter.write(Seq((1, "a")).toDF("k", "v"), root)
    val name = mem()
    val q = spark.readStream.format("graft-delta").load(root)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", tmp()).start()
    try {
      q.processAllAvailable()
      DeltaWriter.write(Seq((2, "b", 9.0)).toDF("k", "v", "w"), root,
        schemaPolicy = graft.sources.DeltaSchema.Evolve)
      val e = intercept[StreamingQueryException] { q.processAllAvailable() }
      val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
      assert(msg.contains("schemaTrackingLocation"), msg)
    } finally q.stop()
  }

  /** Rows of a Source.getBatch frame (streaming-flagged; its LogicalRDD
    * already carries the materialized rows). */
  private def batchRows(df: org.apache.spark.sql.DataFrame): Long =
    df.queryExecution.logical
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd.count()

  test("uncommitted batch-0 replay after the table advances loses nothing") {
    import graft.sources.DeltaStreamSource
    val root = tmp()
    DeltaWriter.write((0 until 20).toDF("k").repartition(4), root) // v0
    val metaDir = tmp() // plays the engine's per-source metadata path
    val s1 = new DeltaStreamSource(spark, root, Map.empty, metaDir)
    val end = s1.getOffset.get // engine logs this offset to its WAL...
    // ...and crashes BEFORE the batch commits; the table advances
    DeltaWriter.write((100 until 105).toDF("k"), root) // v1
    // restart: a fresh source (same metadata path) replays the batch —
    // it must enumerate the PERSISTED base, not a re-resolved current one
    val s2 = new DeltaStreamSource(spark, root, Map.empty, metaDir)
    val replay = s2.getBatch(None, end)
    assert(batchRows(replay) == 20,
      "replayed batch 0 must pin the original base snapshot")
    val end2 = s2.getOffset.get
    assert(batchRows(s2.getBatch(Some(end), end2)) == 5,
      "the commit that landed while down must follow as its own batch")
  }

  test("fully-drained cursor survives its version's log entry expiring") {
    import graft.sources.DeltaStreamSource
    val root = tmp()
    DeltaWriter.write(Seq((1, "a")).toDF("k", "v"), root) // v0
    val metaDir = tmp()
    val s = new DeltaStreamSource(spark, root, Map.empty, metaDir)
    val o1 = s.getOffset.get
    s.getBatch(None, o1)
    DeltaWriter.write(Seq((2, "b")).toDF("k", "v"), root) // v1
    val o2 = s.getOffset.get
    // v1 drained to its end: the checkpointed position advances PAST it
    assert(o2.json().contains("\"version\":2") && o2.json().contains("\"index\":0"),
      s"expected an advanced (2,0) cursor, got ${o2.json()}")
    s.getBatch(Some(o1), o2)
    // v2 lands, then retention cleanup removes the checkpoint-covered
    // v0/v1 entries (cleanup only ever runs with newer commits present)
    DeltaWriter.write(Seq((3, "c")).toDF("k", "v"), root) // v2
    DeltaWriter.writeCheckpoint(spark, root, 1L)
    val log = new java.io.File(root, "_delta_log")
    Seq(0L, 1L).foreach(v =>
      assert(new java.io.File(log, f"$v%020d.json").delete()))
    // the advanced cursor must NOT trip the expired-version guard: v1 was
    // fully consumed, so nothing unconsumed predates the earliest entry
    val s2 = new DeltaStreamSource(spark, root, Map.empty, metaDir)
    val o3 = s2.getOffset.get
    assert(batchRows(s2.getBatch(Some(o2), o3)) == 1,
      "restart after log cleanup should drain exactly the new commit")
  }

  test("a torn position file recovers from the offset WAL, exactly once") {
    val root = tmp(); val out = tmp(); val cp = tmp()
    DeltaWriter.write((0 until 12).toDF("k").repartition(3), root)
    def start() = spark.readStream.format("graft-delta")
      .option("maxFilesPerTrigger", "1").load(root)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", cp).start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(out).count() == 12)
    // a crash mid-write under a non-atomic publish leaves a torn JSON; a
    // capped restart treating it as FRESH would re-cap from the base and
    // replay delivered files — the cursor must come back from the WAL
    val pos = new java.io.File(new java.io.File(cp, "sources/0"),
      "graft-delta-position")
    assert(pos.exists, s"position file missing at $pos")
    java.nio.file.Files.write(pos.toPath, "{\"version\":".getBytes("UTF-8"))
    DeltaWriter.write((12 until 15).toDF("k"), root)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(out)
    assert(got.count() == 15, "torn position file duplicated or dropped rows")
    assert(got.as[Int].collect().toSet == (0 until 15).toSet)
    // an EMPTY file (crash at truncation) and a DELETED file (crash
    // between delete and rename on an HDFS-contract store) recover too
    java.nio.file.Files.write(pos.toPath, Array.empty[Byte])
    DeltaWriter.write((15 until 18).toDF("k"), root)
    val q3 = start()
    try q3.processAllAvailable() finally q3.stop()
    assert(pos.delete())
    DeltaWriter.write((18 until 21).toDF("k"), root)
    val q4 = start()
    try q4.processAllAvailable() finally q4.stop()
    val all = spark.read.parquet(out)
    assert(all.count() == 21, "empty/absent position file broke exactly-once")
    assert(all.as[Int].collect().toSet == (0 until 21).toSet)
  }

  test("a stale Hadoop checksum sidecar never wedges position recovery") {
    import graft.sources.DeltaStreamSource
    val root = tmp()
    DeltaWriter.write((0 until 8).toDF("k").repartition(4), root)
    val metaDir = tmp()
    // simulate a PRE-atomic-publish checkpoint: the position file written
    // through Hadoop's checksummed create leaves a .crc sidecar; the new
    // raw atomic publisher replaces the bytes WITHOUT maintaining it — a
    // checksummed reader would then throw on open, wedging every restart
    val p = new org.apache.hadoop.fs.Path(metaDir, "graft-delta-position")
    val f = p.getFileSystem(spark.sessionState.newHadoopConf())
    val o = f.create(p, true)
    o.write("""{"version":0,"index":1,"snapshot":true}""".getBytes("UTF-8"))
    o.close()
    assert(new java.io.File(metaDir, ".graft-delta-position.crc").exists(),
      "fixture should have produced a checksum sidecar")
    val s1 = new DeltaStreamSource(spark, root,
      Map("maxFilesPerTrigger" -> "1"), metaDir)
    val o1 = s1.getOffset.get // advances the position: atomic raw publish
    assert(!new java.io.File(metaDir, ".graft-delta-position.crc").exists(),
      "the stale checksum sidecar must be cleared on publish")
    val s2 = new DeltaStreamSource(spark, root,
      Map("maxFilesPerTrigger" -> "1"), metaDir)
    val o2 = s2.getOffset.get
    // a LOST cursor would re-cap from the base, yielding an offset at or
    // behind o1 and an empty batch; a recovered one admits the next file
    assert(batchRows(s2.getBatch(Some(o1), o2)) > 0,
      "recovery across the stale-crc upgrade path lost the cursor")
  }

  test("legacy (v, count) drained cursor normalizes, then survives log cleanup") {
    import graft.sources.DeltaStreamSource
    val root = tmp()
    DeltaWriter.write(Seq((1, "a")).toDF("k", "v"), root) // v0
    val metaDir = tmp()
    val s = new DeltaStreamSource(spark, root, Map.empty, metaDir)
    val o1 = s.getOffset.get
    s.getBatch(None, o1)
    DeltaWriter.write(Seq((2, "b")).toDF("k", "v"), root) // v1: one add
    val o2 = s.getOffset.get
    s.getBatch(Some(o1), o2)
    // simulate a checkpoint written BEFORE the advanced (v+1, 0) form
    // existed: position persisted as (v, adds.size)
    val posFile = new java.io.File(metaDir, "graft-delta-position")
    java.nio.file.Files.write(posFile.toPath,
      """{"version":1,"index":1,"snapshot":false}""".getBytes("UTF-8"))
    // first restart under the new code, with v1 still retained: the
    // cursor must re-persist in the advanced form...
    val s2 = new DeltaStreamSource(spark, root, Map.empty, metaDir)
    assert(s2.getOffset.isDefined)
    val persisted = new String(
      java.nio.file.Files.readAllBytes(posFile.toPath), "UTF-8")
    assert(persisted.contains("\"version\":2") && persisted.contains("\"index\":0"),
      s"legacy cursor was not normalized: $persisted")
    // ...so that cleanup removing v0/v1 no longer strands the stream
    DeltaWriter.write(Seq((3, "c")).toDF("k", "v"), root) // v2
    DeltaWriter.writeCheckpoint(spark, root, 1L)
    val log = new java.io.File(root, "_delta_log")
    Seq(0L, 1L).foreach(v =>
      assert(new java.io.File(log, f"$v%020d.json").delete()))
    val s3 = new DeltaStreamSource(spark, root, Map.empty, metaDir)
    val o3 = s3.getOffset.get
    assert(batchRows(s3.getBatch(Some(s3.getOffset.get), o3)) == 0)
    val o2adv = graft.sources.DeltaStreamSource.DeltaSourceOffset(
      2L, 0L, snapshot = false)
    assert(batchRows(s3.getBatch(Some(o2adv), o3)) == 1,
      "normalized cursor should drain exactly the post-cleanup commit")
  }

  test("widen-then-drop history never tracks the dead column") {
    val root = tmp(); val cp = tmp(); val track = tmp()
    DeltaWriter.write(Seq((1, "a")).toDF("k", "v"), root)              // v0
    DeltaWriter.write(Seq((2, "b", 9.9)).toDF("k", "v", "w"), root,
      schemaPolicy = graft.sources.DeltaSchema.Evolve)                 // v1 widen
    DeltaWriter.write(Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"),
      root, mode = "overwrite")                                        // v2 DROP w
    DeltaWriter.write(Seq((4, "d")).toDF("k", "v"), root)              // v3
    val name = mem()
    // replay the whole history: v1's metaData is WIDER than today's
    // table — recording it would serve a dead column, then wedge on v2
    val q = spark.readStream.format("graft-delta")
      .option("startingVersion", "0")
      .option("ignoreChanges", "true")
      .option("schemaTrackingLocation", track).load(root)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", cp).start()
    try {
      q.processAllAvailable()
      val got = spark.table(name)
      assert(got.columns.toSeq == Seq("k", "v"),
        s"obsolete wider schema leaked: ${got.columns.mkString(",")}")
      assert(got.as[(Int, String)].collect().toSet ==
        Set((1, "a"), (2, "b"), (3, "c"), (4, "d")))
    } finally q.stop()
    assert(!new java.io.File(track, "graft-delta-schema-track.json").exists(),
      "an obsolete (since-dropped) widening was persisted to the tracking file")
  }

  test("startingVersion before the earliest retained log entry fails loudly") {
    val root = tmp()
    DeltaWriter.write(Seq((1, "a")).toDF("k", "v"), root) // v0
    DeltaWriter.write(Seq((2, "b")).toDF("k", "v"), root) // v1
    DeltaWriter.write(Seq((3, "c")).toDF("k", "v"), root) // v2
    DeltaWriter.writeCheckpoint(spark, root, 2L)
    // simulate log retention cleanup: v0/v1 json entries expire
    val log = new java.io.File(root, "_delta_log")
    Seq(0L, 1L).foreach { v =>
      assert(new java.io.File(log, f"$v%020d.json").delete())
    }
    val name = mem()
    val q = spark.readStream.format("graft-delta")
      .option("startingVersion", "0").load(root)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", tmp()).start()
    try {
      val e = intercept[StreamingQueryException] { q.processAllAvailable() }
      val msg = e.getMessage +
        Option(e.getCause).map(_.getMessage).getOrElse("")
      assert(msg.contains("no longer available"),
        s"expected a loud expired-version error, got: $msg")
    } finally q.stop()
    // an available startingVersion still streams
    val name2 = mem()
    val q2 = spark.readStream.format("graft-delta")
      .option("startingVersion", "2").load(root)
      .writeStream.format("memory").queryName(name2)
      .option("checkpointLocation", tmp()).start()
    try {
      q2.processAllAvailable()
      assert(spark.table(name2).as[(Int, String)].collect().toSet ==
        Set((3, "c")))
    } finally q2.stop()
  }
}
