package graft

import graft.sources.{Sources, WarcSource}
import org.apache.spark.sql.functions._

import java.io.{ByteArrayOutputStream, File}
import java.nio.file.Files
import java.util.zip.GZIPOutputStream

/**
 * Native WARC/WET source against hand-built byte-exact fixtures (the ISO
 * 28500 framing Common Crawl emits: CRLF warc-fields, Content-Length
 * payloads, one gzip member per record) plus writer roundtrips and the
 * declarative `format: warc` dispatch.
 */
class WarcSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("warc").toString

  /** A record exactly as the spec frames it. */
  private def record(headers: Seq[(String, String)], payload: Array[Byte],
                     version: String = "WARC/1.0"): Array[Byte] = {
    val sb = new StringBuilder
    sb.append(version).append("\r\n")
    headers.foreach { case (k, v) => sb.append(s"$k: $v\r\n") }
    sb.append(s"Content-Length: ${payload.length}\r\n\r\n")
    sb.toString.getBytes("ISO-8859-1") ++ payload ++ "\r\n\r\n".getBytes("ISO-8859-1")
  }

  private def gzMember(bytes: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(bytes); gz.close()
    bos.toByteArray
  }

  private def writeFile(dir: String, name: String, bytes: Array[Byte]): String = {
    val f = new File(dir, name)
    Files.write(f.toPath, bytes)
    f.toString
  }

  private def wetFixture(dir: String, gzip: Boolean): String = {
    val text1 = "Hello corpus, first document.".getBytes("UTF-8")
    val text2 = "Zweites Dokument über Umlaute.".getBytes("UTF-8")
    val info = "software: test-crawler/1.0\r\n".getBytes("ISO-8859-1")
    val recs = Seq(
      record(Seq(
        "WARC-Type" -> "warcinfo",
        "WARC-Record-ID" -> "<urn:uuid:00000000-0000-0000-0000-000000000001>",
        "WARC-Date" -> "2026-03-01T00:00:00Z",
        "Content-Type" -> "application/warc-fields"), info),
      record(Seq(
        "WARC-Type" -> "conversion",
        "WARC-Record-ID" -> "<urn:uuid:00000000-0000-0000-0000-000000000002>",
        "WARC-Target-URI" -> "https://example.com/a",
        "WARC-Date" -> "2026-03-01T01:02:03Z",
        "Content-Type" -> "text/plain"), text1),
      // folded header continuation (RFC-5322 style) + WARC/1.1 version
      record(Seq(
        "WARC-Type" -> "conversion",
        "WARC-Record-ID" -> "<urn:uuid:00000000-0000-0000-0000-000000000003>",
        "WARC-Target-URI" -> "https://example.com/b",
        "WARC-Date" -> "2026-03-01T02:00:00Z",
        "Content-Type" -> "text/plain",
        "WARC-Concurrent-To" -> "<urn:uuid:x>,\r\n <urn:uuid:y>"), text2,
        version = "WARC/1.1"))
    if (gzip) writeFile(dir, "seg-00000.warc.gz", recs.flatMap(gzMember).toArray)
    else writeFile(dir, "seg-00000.warc", recs.flatten.toArray)
  }

  test("hand-built WET file parses: fields, date, folding, multi-member gzip") {
    for (gz <- Seq(true, false)) {
      val dir = tmp()
      wetFixture(dir, gzip = gz)
      val df = WarcSource.read(spark, dir)
      assert(df.count() == 3)
      val conv = df.where($"record_type" === "conversion")
        .orderBy("target_uri").collect()
      assert(conv.length == 2)
      assert(conv(0).getAs[String]("target_uri") == "https://example.com/a")
      assert(conv(0).getAs[String]("record_id") ==
        "urn:uuid:00000000-0000-0000-0000-000000000002")
      assert(new String(conv(0).getAs[Array[Byte]]("content"), "UTF-8") ==
        "Hello corpus, first document.")
      assert(conv(0).getAs[java.sql.Timestamp]("date").toInstant ==
        java.time.Instant.parse("2026-03-01T01:02:03Z"))
      assert(conv(0).getAs[Long]("content_length") == 29L)
      // folded header joined into one value
      assert(conv(1).getAs[Map[String, String]]("headers")("WARC-Concurrent-To")
        .contains("<urn:uuid:y>"))
      // unicode payload intact through the binary path
      assert(new String(conv(1).getAs[Array[Byte]]("content"), "UTF-8")
        .contains("über"))
    }
  }

  test("record-type filter skips payloads; wetDocuments lands url/date/text") {
    val dir = tmp()
    wetFixture(dir, gzip = true)
    val only = WarcSource.read(spark, dir,
      WarcSource.WarcOptions(recordTypes = Set("conversion")))
    assert(only.count() == 2)
    assert(only.select("record_type").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("conversion"))
    val docs = WarcSource.wetDocuments(spark, dir).orderBy("url").collect()
    assert(docs.map(_.getAs[String]("url")).toSeq ==
      Seq("https://example.com/a", "https://example.com/b"))
    assert(docs(0).getAs[String]("text") == "Hello corpus, first document.")
    // max_content_length drops oversized records without failing the read
    val capped = WarcSource.read(spark, dir,
      WarcSource.WarcOptions(recordTypes = Set("conversion"), maxContentLength = 29L))
    assert(capped.count() == 1)
  }

  test("writer roundtrip: corpus → one-member-per-record gzip → identical read-back") {
    val dir = tmp() + "/out"
    val df = Seq(
      ("https://a.example/x", "doc one text", "2026-01-05T00:00:00Z"),
      ("https://b.example/y", "doc two text with more words", "2026-01-06T12:30:00Z"))
      .toDF("target_uri", "content", "ts")
      .withColumn("date", to_timestamp($"ts"))
      .withColumn("content_type", lit("text/plain")).drop("ts")
    assert(WarcSource.write(df, dir) == 2L)
    val back = WarcSource.read(spark, dir).orderBy("target_uri").collect()
    assert(back.length == 2)
    assert(back(0).getAs[String]("record_type") == "conversion")
    assert(new String(back(0).getAs[Array[Byte]]("content"), "UTF-8") == "doc one text")
    assert(back(1).getAs[java.sql.Timestamp]("date").toInstant ==
      java.time.Instant.parse("2026-01-06T12:30:00Z"))
    // record ids are deterministic → a rewrite yields the same ids
    val ids1 = back.map(_.getAs[String]("record_id")).toSeq
    assert(WarcSource.write(df, dir) == 2L)
    val ids2 = WarcSource.read(spark, dir).orderBy("target_uri").collect()
      .map(_.getAs[String]("record_id")).toSeq
    assert(ids1 == ids2 && ids1.forall(_.startsWith("urn:uuid:")))
    // append mode adds records; error mode fails fast
    assert(WarcSource.write(df, dir, mode = "append") == 2L)
    assert(WarcSource.read(spark, dir).count() == 4)
    intercept[IllegalArgumentException] { WarcSource.write(df, dir, mode = "error") }
  }

  test("an empty partition's zero-byte part file reads as zero records") {
    // one row over two slices: slice 0 is empty, and the writer still
    // leaves a part file for partition 0
    val rows = spark.sparkContext.parallelize(Seq("only doc"), 2)
    val df = rows.toDF("content")
    Seq("gzip", "zstd", "none").foreach { codec =>
      val dir = tmp() + s"/$codec"
      assert(WarcSource.write(df, dir, codec = codec) == 1L)
      val parts = new File(dir).listFiles().filter(_.getName.startsWith("part-"))
      assert(parts.exists(_.length == 0), parts.map(f => f.getName -> f.length).toSeq)
      val back = WarcSource.read(spark, dir).collect()
      assert(back.length == 1, codec)
      assert(new String(back(0).getAs[Array[Byte]]("content"), "UTF-8") == "only doc")
    }
  }

  test("overwriting with a frame of no partitions leaves an empty, readable path") {
    // limit(0) plans to an RDD with no partitions: no task runs, so no
    // task creates the output directory the overwrite swaps in
    val dir = tmp() + "/out"
    val df = Seq(("https://a.example/x", "doc")).toDF("target_uri", "content")
    assert(WarcSource.write(df, dir) == 1L)
    assert(WarcSource.write(df.limit(0), dir) == 0L)
    assert(new File(dir).isDirectory, "overwrite left the target path missing")
    assert(WarcSource.read(spark, dir).count() == 0L)
    assert(WarcSource.write(df.filter("false"), dir, mode = "append") == 0L)
    assert(WarcSource.read(spark, dir).count() == 0L)
  }

  test("zstd codec: one-frame-per-record write reads back through setContinuous") {
    val dir = tmp() + "/z"
    val df = Seq(("https://a.example/1", "zstd doc one"),
      ("https://a.example/2", "zstd doc two, somewhat longer to compress"))
      .toDF("target_uri", "content")
    assert(WarcSource.write(df, dir, codec = "zstd") == 2L)
    val files = new File(dir).listFiles().filter(_.getName.endsWith(".warc.zst"))
    assert(files.nonEmpty)
    val back = WarcSource.read(spark, dir).orderBy("target_uri").collect()
    assert(back.length == 2)
    assert(new String(back(0).getAs[Array[Byte]]("content"), "UTF-8") == "zstd doc one")
    intercept[IllegalArgumentException] { WarcSource.write(df, dir, codec = "lz77") }
  }

  test("malformed inputs fail fast, never silently mis-parse") {
    val dir1 = tmp()
    writeFile(dir1, "bad.warc", "HTTP/1.1 200 OK\r\n\r\n".getBytes("ISO-8859-1"))
    val e1 = intercept[Exception] { WarcSource.read(spark, dir1).count() }
    assert(e1.getMessage.contains("WARC"))
    val dir2 = tmp()
    // Content-Length larger than the actual payload → truncation error
    val torn = ("WARC/1.0\r\nWARC-Type: conversion\r\nContent-Length: 999\r\n\r\nshort")
      .getBytes("ISO-8859-1")
    writeFile(dir2, "torn.warc", torn)
    intercept[Exception] { WarcSource.read(spark, dir2).count() }
    val dir3 = tmp()
    writeFile(dir3, "nolen.warc",
      "WARC/1.0\r\nWARC-Type: conversion\r\n\r\n".getBytes("ISO-8859-1"))
    intercept[Exception] { WarcSource.read(spark, dir3).count() }
  }

  test("declarative dispatch: format warc read/write, documents frame") {
    val fixture = tmp()
    wetFixture(fixture, gzip = true)
    val all = Sources.read(spark, Sources.ReadConfig("warc", path = Some(fixture)))
    assert(all.count() == 3)
    val docs = Sources.read(spark, Sources.ReadConfig("warc", path = Some(fixture),
      options = Map("documents" -> "true")))
    assert(docs.columns.toSeq == Seq("url", "date", "text"))
    assert(docs.count() == 2)
    val out = tmp() + "/sink"
    val rows = Sources.writeWithStats(
      docs.select($"url".as("target_uri"), $"date", $"text".as("content")),
      out, Sources.WriteConfig(format = "warc"))
    assert(rows == 2L)
    assert(Sources.read(spark, Sources.ReadConfig("warc", path = Some(out),
      options = Map("record_types" -> "conversion"))).count() == 2)
  }
}
