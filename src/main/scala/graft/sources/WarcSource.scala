package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.io.{BufferedInputStream, ByteArrayOutputStream, EOFException, InputStream, OutputStream,
  PushbackInputStream}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}
import scala.jdk.CollectionConverters._

/**
 * Native WARC / WET source and sink on the PUBLIC ISO 28500 WARC format —
 * the container Common Crawl publishes (`*.warc.gz` raw captures,
 * `*.wet.gz` extracted-text "conversion" records), i.e. the canonical
 * input of a web-scale training-data pipeline. No WARC library exists in
 * this environment, so the record framing is implemented directly:
 *
 *   WARC/1.0\r\n  (or 1.1)
 *   <warc-fields: "Name: value" lines, RFC-5322-style folding honored>\r\n
 *   \r\n
 *   <exactly Content-Length payload bytes>
 *   \r\n\r\n
 *
 * Gzipped inputs follow the Common Crawl convention of one gzip MEMBER
 * per record, members concatenated; `GZIPInputStream` reads concatenated
 * members transparently, so `.warc` and `.warc.gz` share one code path.
 *
 * Scale design:
 *  - gzip members are not seekable without an index, so the split unit is
 *    the FILE (exactly how Spark, Hadoop and every Common Crawl pipeline
 *    treat `.warc.gz`); Common Crawl ships ~64k segment files per crawl
 *    (~1 GB each), which saturates any cluster width. Records stream
 *    through a constant-memory parser — a task never materializes a file,
 *    only one record's payload at a time.
 *  - `recordTypes` filtering happens IN the parser: skipped records'
 *    payloads are `skip`ped at the stream level, never allocated (a WET
 *    read of a raw WARC touches response bytes zero times).
 *  - the driver only lists files; schema is static.
 *
 * Writes emit one `part-NNNNN.warc.gz` per partition (one gzip member per
 * record, so downstream range requests can re-inflate records
 * individually), published atomically via the temp-dir + rename swap all
 * other overwrite sinks use.
 *
 * Reference anchor: the reference's format enum has no WARC reader
 * (`odibi/config.py:1084-1114`) — this is a beyond-reference source the
 * builder brief's training-pipeline mandate calls for.
 */
object WarcSource {

  val schema: StructType = StructType(Seq(
    StructField("record_type", StringType),   // WARC-Type
    StructField("record_id", StringType),     // WARC-Record-ID, <> stripped
    StructField("target_uri", StringType),    // WARC-Target-URI (null on warcinfo)
    StructField("date", TimestampType),       // WARC-Date (UTC)
    StructField("content_type", StringType),  // Content-Type
    StructField("content_length", LongType),
    StructField("headers", MapType(StringType, StringType)),
    StructField("content", BinaryType),
    StructField("_source_file", StringType)))

  /** `recordTypes` empty = all records; e.g. Set("conversion") for WET,
    * Set("response") for page fetches. `maxContentLength` guards a
    * degenerate record from OOMing a task (skip-with-count, never fail
    * mid-corpus, mirroring the lenient modes of the other sources). */
  final case class WarcOptions(recordTypes: Set[String] = Set.empty,
                               maxContentLength: Long = 512L << 20)

  // ---------------------------------------------------------------- parse

  /** One header line, folded continuations already joined. */
  private def splitHeader(line: String): (String, String) = {
    val i = line.indexOf(':')
    require(i > 0, s"malformed warc-fields line: '$line'")
    (line.substring(0, i).trim, line.substring(i + 1).trim)
  }

  /** Read a \r\n- (or \n-) terminated line as ISO-8859-1 (warc-fields are
    * ASCII; URIs arrive percent-encoded). Returns null at EOF. */
  private def readLine(in: InputStream): String = {
    val buf = new ByteArrayOutputStream(96)
    var b = in.read()
    if (b < 0) return null
    while (b >= 0 && b != '\n') { buf.write(b); b = in.read() }
    val raw = buf.toByteArray
    val n = if (raw.nonEmpty && raw(raw.length - 1) == '\r') raw.length - 1 else raw.length
    new String(raw, 0, n, "ISO-8859-1")
  }

  private def readFully(in: InputStream, len: Int): Array[Byte] = {
    val out = new Array[Byte](len)
    var off = 0
    while (off < len) {
      val n = in.read(out, off, len - off)
      if (n < 0) throw new EOFException(
        s"warc payload truncated: expected $len bytes, got $off")
      off += n
    }
    out
  }

  private def skipFully(in: InputStream, len: Long): Unit = {
    var left = len
    val buf = new Array[Byte](64 * 1024)
    while (left > 0) {
      val n = in.read(buf, 0, math.min(left, buf.length.toLong).toInt)
      if (n < 0) throw new EOFException(s"warc payload truncated while skipping")
      left -= n
    }
  }

  /** WARC-Date: ISO 8601 UTC (second precision in 1.0, fractional allowed
    * in 1.1). */
  private def parseDate(s: String): java.sql.Timestamp =
    try java.sql.Timestamp.from(java.time.Instant.parse(s))
    catch { case _: java.time.format.DateTimeParseException => null }

  private[sources] def stripAngle(id: String): String = {
    val t = id.trim
    if (t.startsWith("<") && t.endsWith(">")) t.substring(1, t.length - 1) else t
  }

  /** Streaming record iterator over one (possibly compressed) WARC file.
    * Constant memory: one record payload at most is live. `.gz` =
    * multi-member gzip (JDK reads concatenated members transparently);
    * `.zst` = multi-frame zstd via the zstd-jni that ships with Spark
    * (`setContinuous` reads concatenated frames — the layout newer
    * Common Crawl segments use). */
  private[sources] def parseStream(raw: InputStream, sourceFile: String,
                                   opts: WarcOptions): Iterator[Row] = {
    // a zero-byte file (the writer's empty partition 0) holds no records;
    // GZIPInputStream would throw EOFException reading its missing header
    val peek = new PushbackInputStream(raw, 1)
    val first = peek.read()
    if (first < 0) { raw.close(); return Iterator.empty }
    peek.unread(first)
    val decoded: InputStream =
      if (sourceFile.endsWith(".gz")) new GZIPInputStream(peek, 64 * 1024)
      else if (sourceFile.endsWith(".zst")) {
        val z = new com.github.luben.zstd.ZstdInputStream(peek)
        z.setContinuous(true)
        z
      } else peek
    val in = new BufferedInputStream(decoded, 64 * 1024)
    new Iterator[Row] {
      private var nextRow: Row = _
      private var done = false

      @annotation.tailrec
      private def advance(): Unit = {
        // skip inter-record blank lines; EOF here is clean end-of-file
        var line = readLine(in)
        while (line != null && line.isEmpty) line = readLine(in)
        if (line == null) { done = true; in.close(); return }
        require(line.startsWith("WARC/"),
          s"$sourceFile: expected WARC version line, got '${line.take(40)}'")
        // warc-fields with RFC-5322 folding (continuation starts with SP/HT)
        val fields = scala.collection.mutable.LinkedHashMap[String, String]()
        var last: String = null
        var h = readLine(in)
        while (h != null && h.nonEmpty) {
          if ((h.startsWith(" ") || h.startsWith("\t")) && last != null)
            fields.update(last, fields(last) + " " + h.trim)
          else { val (k, v) = splitHeader(h); fields.update(k, v); last = k }
          h = readLine(in)
        }
        if (h == null) throw new EOFException(s"$sourceFile: EOF inside warc-fields")
        val len = fields.collectFirst {
          case (k, v) if k.equalsIgnoreCase("Content-Length") => v.toLong
        }.getOrElse(throw new IllegalArgumentException(
          s"$sourceFile: warc record without Content-Length"))
        def field(name: String): Option[String] =
          fields.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }
        val rtype = field("WARC-Type").getOrElse("unknown")
        val wanted = (opts.recordTypes.isEmpty || opts.recordTypes.contains(rtype)) &&
          len <= opts.maxContentLength
        if (!wanted) { skipFully(in, len); advance() }
        else {
          require(len <= Int.MaxValue - 16,
            s"$sourceFile: record payload $len exceeds the 2 GiB array bound " +
              "— lower max_content_length to skip such records")
          val payload = readFully(in, len.toInt)
          nextRow = Row(
            rtype,
            field("WARC-Record-ID").map(stripAngle).orNull,
            field("WARC-Target-URI").map(stripAngle).orNull,
            field("WARC-Date").map(parseDate).orNull,
            field("Content-Type").orNull,
            len,
            fields.toMap,
            payload,
            sourceFile)
        }
      }

      def hasNext: Boolean = {
        if (nextRow == null && !done) advance()
        nextRow != null
      }
      def next(): Row = {
        if (!hasNext) throw new NoSuchElementException
        val r = nextRow; nextRow = null; r
      }
    }
  }

  // ----------------------------------------------------------------- read

  private def confEntries(conf: Configuration): Seq[(String, String)] =
    conf.iterator().asScala.map(e => e.getKey -> e.getValue).toSeq

  private def rebuild(entries: Seq[(String, String)]): Configuration = {
    val c = new Configuration(false)
    entries.foreach { case (k, v) => c.set(k, v) }
    c
  }

  private def listWarcFiles(fs: FileSystem, p: Path): Seq[String] = {
    val st = fs.getFileStatus(p)
    val files =
      if (st.isFile) Seq(st)
      else fs.listStatus(p).toSeq.filter(s => s.isFile
        && !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
        .sortBy(_.getPath.toString)
    files.map(_.getPath.toString)
  }

  /** Read WARC/WET files under `path` (a file or a directory). One task
    * per file; records stream with constant memory. */
  def read(spark: SparkSession, path: String,
           opts: WarcOptions = WarcOptions()): DataFrame = {
    val hconf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val files = listWarcFiles(p.getFileSystem(hconf), p)
    require(files.nonEmpty, s"no warc files under $path")
    val entries = confEntries(hconf)
    val rows = spark.sparkContext
      .parallelize(files, files.size)
      .flatMap { file =>
        val conf = rebuild(entries)
        val fp = new Path(file)
        parseStream(fp.getFileSystem(conf).open(fp), file, opts)
      }
    spark.createDataFrame(rows, schema)
  }

  /** WET convenience: conversion records as (url, date, text) — the frame
    * a curation pipeline starts from. */
  def wetDocuments(spark: SparkSession, path: String): DataFrame =
    read(spark, path, WarcOptions(recordTypes = Set("conversion")))
      .select(col("target_uri").as("url"), col("date"),
        decode(col("content"), "UTF-8").as("text"))

  /** Raw-capture convenience: `response` records -> (url, date, text)
    * with the HTTP header block stripped and HTML extracted to text by
    * the native [[graft.expressions.HtmlToText]] state machine — the
    * fallback when a crawl ships captures without WET conversions. */
  def htmlDocuments(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnShim
    val body = ColumnShim.column(graft.expressions.HttpBody(
      ColumnShim.expression(col("content"))))
    val text = ColumnShim.column(graft.expressions.HtmlToText(
      ColumnShim.expression(decode(body, "UTF-8"))))
    read(spark, path, WarcOptions(recordTypes = Set("response")))
      .select(col("target_uri").as("url"), col("date"), text.as("text"))
  }

  // ---------------------------------------------------------------- write

  private val CRLF = "\r\n".getBytes("ISO-8859-1")

  /**
   * One-gzip-member-per-record writer with a REUSED `Deflater`:
   * `new GZIPOutputStream` per record allocated (and finalizer-queued) a
   * fresh native Deflater each time — at millions of records per task
   * that is allocation/cleaner churn on the hot write path, not
   * compression work. Emits the same RFC-1952 stream shape
   * (10-byte header, raw deflate, CRC32+ISIZE trailer) GZIPOutputStream
   * produces; `GZIPInputStream` reads the members concatenated.
   */
  private final class GzipMemberWriter(out: OutputStream) {
    private val deflater =
      new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    private val crc = new java.util.zip.CRC32()
    private val buf = new Array[Byte](64 * 1024)
    private val header = Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0, 0)

    private def drain(): Unit = {
      var n = deflater.deflate(buf)
      while (n > 0) { out.write(buf, 0, n); n = deflater.deflate(buf) }
    }

    def writeMember(parts: Array[Byte]*): Unit = {
      deflater.reset(); crc.reset()
      out.write(header)
      var total = 0L
      parts.foreach { p =>
        crc.update(p); total += p.length
        deflater.setInput(p)
        drain()
      }
      deflater.finish()
      while (!deflater.finished()) drain()
      writeIntLE(crc.getValue.toInt); writeIntLE(total.toInt)
    }

    private def writeIntLE(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
    }

    def end(): Unit = deflater.end()
  }

  /** WARC header block + trailing CRLFs for one record (payload excluded). */
  private def recordHeaderBytes(headers: Seq[(String, String)],
                                payloadLen: Int): Array[Byte] = {
    val sb = new StringBuilder(256)
    sb.append("WARC/1.0\r\n")
    headers.foreach { case (k, v) => sb.append(k).append(": ").append(v).append("\r\n") }
    sb.append("Content-Length: ").append(payloadLen).append("\r\n\r\n")
    sb.toString.getBytes("ISO-8859-1")
  }

  private def writeRecord(out: OutputStream, headers: Seq[(String, String)],
                          payload: Array[Byte], codec: String): Unit = {
    // one compressed member/frame per record (Common Crawl convention):
    // finish the member but keep the underlying stream open
    val target = codec match {
      case "gzip" => new GZIPOutputStream(out, 64 * 1024)
      case "zstd" =>
        val z = new com.github.luben.zstd.ZstdOutputStream(out)
        z.setCloseFrameOnFlush(true) // flush finalizes the frame; stream stays open
        z
      case _ => out
    }
    def line(s: String): Unit = {
      target.write(s.getBytes("ISO-8859-1")); target.write(CRLF)
    }
    line("WARC/1.0")
    headers.foreach { case (k, v) => line(s"$k: $v") }
    line(s"Content-Length: ${payload.length}")
    target.write(CRLF)
    target.write(payload)
    target.write(CRLF); target.write(CRLF)
    target match {
      case g: GZIPOutputStream => g.finish(); g.flush()
      case z: com.github.luben.zstd.ZstdOutputStream => z.flush()
      case s => s.flush()
    }
  }

  private def fmtDate(ts: java.sql.Timestamp): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
      .withZone(java.time.ZoneOffset.UTC).format(ts.toInstant)

  /**
   * Write `df` as WARC files, one per partition. Expected columns:
   * `content` (binary or string, required), and optionally `target_uri`,
   * `record_id` (deterministic UUID from uri+content when absent),
   * `date` (epoch when absent), `content_type`, `record_type` (default
   * `conversion`, the WET shape). Extra `headers` map entries pass
   * through. Modes: overwrite (atomic swap) / append / ignore / error.
   * Returns rows written, counted by the write tasks.
   */
  def write(df: DataFrame, path: String, mode: String = "overwrite",
            codec: String = "gzip", defaultRecordType: String = "conversion"): Long = {
    require(Set("gzip", "zstd", "none").contains(codec),
      s"warc codec must be gzip/zstd/none, got '$codec'")
    val spark = df.sparkSession
    val hconf = spark.sessionState.newHadoopConf()
    val fs = new Path(path).getFileSystem(hconf)
    val exists = fs.exists(new Path(path))
    mode match {
      case "ignore" if exists => return 0L
      case "error" | "errorifexists" if exists =>
        throw new IllegalArgumentException(s"path already exists: $path")
      case _ => ()
    }
    val cols = df.columns.toSet
    require(cols.contains("content"), "warc write needs a 'content' column")
    def optCol(n: String, dt: DataType) =
      if (cols.contains(n)) col(n).cast(dt) else lit(null).cast(dt)
    val normalized = df.select(
      col("content").cast(BinaryType).as("content"),
      optCol("target_uri", StringType).as("target_uri"),
      optCol("record_id", StringType).as("record_id"),
      optCol("date", TimestampType).as("date"),
      optCol("content_type", StringType).as("content_type"),
      optCol("record_type", StringType).as("record_type"),
      (if (cols.contains("headers")) col("headers").cast(MapType(StringType, StringType))
       else lit(null).cast(MapType(StringType, StringType))).as("headers"))
    val entries = confEntries(hconf)
    val token = java.lang.Long.toHexString(System.nanoTime())
    val ext = codec match {
      case "gzip" => "warc.gz"
      case "zstd" => "warc.zst"
      case _ => "warc"
    }
    def writeTo(dir: String): Long = {
      val rdd = normalized.rdd
      // a frame with no partitions (limit(0), filter("false")) runs no
      // task: write partition 0's empty part file here instead
      if (rdd.getNumPartitions == 0) {
        fs.create(new Path(dir, f"part-00000-$token.$ext"), false).close()
        0L
      } else rdd.mapPartitionsWithIndex { (i, rows) =>
        if (rows.isEmpty && i != 0) Iterator.single(0L)
        else {
          val conf = rebuild(entries)
          val out = new Path(dir, f"part-$i%05d-$token.$ext")
          val os = out.getFileSystem(conf).create(out, false)
          var n = 0L
          val trailer = "\r\n\r\n".getBytes("ISO-8859-1")
          // one reused Deflater per output file, not one per record
          val gz = if (codec == "gzip") Some(new GzipMemberWriter(os)) else None
          try rows.foreach { r =>
            val payload = Option(r.getAs[Array[Byte]]("content"))
              .getOrElse(Array.emptyByteArray)
            val uri = Option(r.getAs[String]("target_uri"))
            val id = Option(r.getAs[String]("record_id")).getOrElse {
              // deterministic: re-writes of the same corpus agree
              val seed = (uri.getOrElse("") + " ").getBytes("UTF-8") ++ payload
              "urn:uuid:" + java.util.UUID.nameUUIDFromBytes(seed).toString
            }
            val date = Option(r.getAs[java.sql.Timestamp]("date"))
              .getOrElse(new java.sql.Timestamp(0L))
            val rtype = Option(r.getAs[String]("record_type")).getOrElse(defaultRecordType)
            val reserved = Set("warc-type", "warc-record-id", "warc-date",
              "warc-target-uri", "content-type", "content-length")
            val extra = Option(r.getAs[Map[String, String]]("headers"))
              .getOrElse(Map.empty)
              .filterNot { case (k, _) => reserved.contains(k.toLowerCase) }
              .toSeq.sortBy(_._1)
            val headers =
              Seq("WARC-Type" -> rtype, "WARC-Record-ID" -> s"<$id>",
                "WARC-Date" -> fmtDate(date)) ++
                uri.map("WARC-Target-URI" -> _) ++
                Option(r.getAs[String]("content_type")).map("Content-Type" -> _) ++
                extra
            gz match {
              case Some(g) => g.writeMember(
                recordHeaderBytes(headers, payload.length), payload, trailer)
              case None => writeRecord(os, headers, payload, codec)
            }
            n += 1
          } finally { gz.foreach(_.end()); os.close() }
          Iterator.single(n)
        }
      }.sum().toLong
    }
    if (mode == "overwrite") {
      var written = 0L
      graft.core.AtomicParquet.swap(hconf, path, token) { tmp => written = writeTo(tmp) }
      written
    } else { fs.mkdirs(new Path(path)); writeTo(path) }
  }
}
