package graft

import java.io.{File, IOException}
import java.net.URI
import java.nio.file.Files

import graft.sources._
import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/**
 * A local filesystem on the `faultfs` scheme that injects faults into
 * version claims. Every claim stages its payload as a hidden
 * `.tmp_<nonce>_<target>` file first ([[CommitStore]]); creating that
 * temp is where a competing writer can slip in or the process can die;
 * the rename that publishes it can apply and still throw.
 */
class FaultFileSystem extends MockS3FileSystem {
  override def getScheme: String = "faultfs"
  override def getUri: URI = URI.create("faultfs://mock/")

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    FaultFileSystem.beforeCreate(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    FaultFileSystem.beforeCreate(f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    val done = super.rename(src, dst)
    FaultFileSystem.afterRename(src, dst, done)
    done
  }

  override def open(f: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    FaultFileSystem.beforeOpen(f)
    super.open(f, bufferSize)
  }
}

object FaultFileSystem {
  /** Claims still to lose: each one finds a competitor's commit at its
    * target, so the writer must rebase onto it. */
  @volatile var losses = 0
  /** The next claim throws: a crash between staging and publish. */
  @volatile var crash = false
  /** The next claim publishes, then throws: a rename RPC whose reply is
    * lost after the store applied it. */
  @volatile var crashAfterClaim = false
  /** With [[crashAfterClaim]], the claimed target cannot be read back. */
  @volatile var unreadableAfterClaim = false
  @volatile private var unreadable: Option[Path] = None
  /** Runs (once) before the next manifest file is created. */
  @volatile var beforeManifest: Option[() => Unit] = None

  def reset(): Unit = {
    losses = 0; crash = false; crashAfterClaim = false
    unreadableAfterClaim = false; unreadable = None; beforeManifest = None
  }

  private[graft] def afterRename(src: Path, dst: Path, done: Boolean): Unit =
    synchronized {
      if (done && crashAfterClaim && src.getName.startsWith(".tmp_")) {
        crashAfterClaim = false
        if (unreadableAfterClaim) { unreadableAfterClaim = false; unreadable = Some(dst) }
        throw new IOException(s"injected crash after claiming $dst")
      }
    }

  private[graft] def beforeOpen(p: Path): Unit = synchronized {
    if (unreadable.exists(_.getName == p.getName)) {
      unreadable = None
      throw new IOException(s"injected read failure on $p")
    }
  }

  private[graft] def beforeCreate(p: Path): Unit = synchronized {
    val name = p.getName
    if (name.startsWith("manifest-")) beforeManifest.foreach { hook =>
      beforeManifest = None; hook()
    }
    if (name.startsWith(".tmp_")) {
      if (crash) {
        crash = false
        throw new IOException(s"injected crash before claiming $p")
      }
      if (losses > 0) {
        losses -= 1
        val target = name.stripPrefix(".tmp_").dropWhile(_ != '_').drop(1)
        compete(new File(p.getParent.toUri.getPath), target)
      }
    }
  }

  /** Commit a no-op version at `target` as another writer would: an empty
    * Delta commit, or a copy of the latest Iceberg metadata. */
  private def compete(dir: File, target: String): Unit = {
    val iceberg = "v(\\d+)\\.metadata\\.json".r
    val bytes = target match {
      case iceberg(v) => Files.readAllBytes(
        new File(dir, s"v${v.toLong - 1}.metadata.json").toPath)
      case _ => ("""{"commitInfo":{"timestamp":0,"operation":"COMPETITOR",""" +
        """"operationParameters":{},"engineInfo":"fault-injection"}}""" + "\n")
        .getBytes("UTF-8")
    }
    Files.write(new File(dir, target).toPath, bytes)
  }
}

/**
 * Drives Delta and Iceberg commits through the one optimistic-commit
 * loop ([[OptimisticCommit]]) with faults injected at the version claim:
 * lost races, a crash between staging and publish, a claim that lands
 * and then throws, and a writer that never wins. After each, the table holds exactly what committed and no
 * file staged by a failed attempt remains.
 */
class OptimisticCommitSpec extends SparkSpec {
  import spark.implicits._

  private def hconf = spark.sparkContext.hadoopConfiguration

  /** Route faultfs:// to [[FaultFileSystem]], claiming by
    * rename-if-absent; restore the conf and the fault switches after. */
  private def withFaults[T](body: => T): T = {
    val keys = Seq("fs.faultfs.impl", "fs.faultfs.impl.disable.cache",
      "graft.commit.store")
    val saved = keys.map(k => k -> Option(hconf.get(k)))
    hconf.set("fs.faultfs.impl", classOf[FaultFileSystem].getName)
    hconf.set("fs.faultfs.impl.disable.cache", "true")
    hconf.set("graft.commit.store", "rename")
    FaultFileSystem.reset()
    try body finally {
      FaultFileSystem.reset()
      saved.foreach {
        case (k, Some(v)) => hconf.set(k, v)
        case (k, None) => hconf.unset(k)
      }
    }
  }

  /** A fresh table root on faultfs, and its local directory. */
  private def table(): (String, File) = {
    val local = Files.createTempDirectory("commit_funnel").toString + "/t"
    ("faultfs://mock" + local, new File(local))
  }

  private def filesUnder(dir: File): Set[String] =
    if (!dir.exists) Set.empty
    else Files.walk(dir.toPath).toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => Files.isRegularFile(p))
      .map(p => dir.toPath.relativize(p).toString)
      .filterNot(_.endsWith(".crc")) // checksum sidecars
      .toSet

  private def text(f: File): String =
    new String(Files.readAllBytes(f.toPath), "ISO-8859-1")

  /** Every data, cdc and deletion-vector file under a Delta table is
    * referenced by some commit; no staging directory or claim temp. */
  private def assertDeltaClean(dir: File): Unit = {
    val all = filesUnder(dir)
    val log = all.filter(p => p.startsWith("_delta_log/") && p.endsWith(".json"))
      .map(p => text(new File(dir, p)))
      .mkString("\n")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val actions = log.split("\n").filter(_.trim.nonEmpty).map(mapper.readTree)
    val referenced = actions.flatMap(a => Seq("add", "cdc", "remove")
      .flatMap(k => Option(a.get(k))).map(x =>
        java.net.URLDecoder.decode(x.get("path").asText(), "UTF-8"))).toSet
    val dvBins = actions.flatMap(a => Option(a.get("add")))
      .flatMap(x => Option(x.get("deletionVector")))
      .map(_.get("pathOrInlineDv").asText()).toSet
    val data = all.filterNot(_.startsWith("_delta_log/"))
    val (bins, parquet) = data.partition(_.startsWith("deletion_vector_"))
    assert(parquet.forall(referenced.contains),
      s"unreferenced files: ${parquet -- referenced}")
    assert(bins.size == dvBins.size, s"DV bins on disk $bins, referenced $dvBins")
  }

  /** Every manifest, manifest list and data file under an Iceberg table
    * is referenced from the latest metadata's snapshots. */
  private def assertIcebergClean(dir: File): Unit = {
    val all = filesUnder(dir)
    val meta = new File(dir, "metadata")
    val latest = meta.listFiles().filter(_.getName.matches("v\\d+\\.metadata\\.json"))
      .maxBy(_.getName.stripPrefix("v").takeWhile(_.isDigit).toLong)
    val lists = all.filter(_.startsWith("metadata/snap-"))
    val manifests = all.filter(_.startsWith("metadata/manifest-"))
    val data = all.filter(p => p.startsWith("data/") && p.endsWith(".parquet"))
    val latestText = text(latest)
    assert(lists.forall(l => latestText.contains(l.split('/').last)),
      s"unreferenced manifest lists: ${lists.filterNot(l => latestText.contains(l.split('/').last))}")
    val listText = lists.map(l => text(new File(dir, l))).mkString
    assert(manifests.forall(m => listText.contains(m.split('/').last)),
      s"unreferenced manifests: ${manifests.filterNot(m => listText.contains(m.split('/').last))}")
    val manifestText = manifests.map(m => text(new File(dir, m))).mkString
    assert(data.forall(d => manifestText.contains(d)),
      s"unreferenced data files: ${data.filterNot(d => manifestText.contains(d))}")
    assert(!all.exists(_.split('/').last.startsWith(".tmp_")))
  }

  private def icebergVersion(dir: File): Long =
    new File(dir, "metadata").listFiles().map(_.getName)
      .collect { case n if n.matches("v\\d+\\.metadata\\.json") =>
        n.stripPrefix("v").takeWhile(_.isDigit).toLong }.max

  test("lost races: Delta write and merge land at the next free version, no lost-round files") {
    withFaults {
      val (root, dir) = table()
      DeltaWriter.write(Seq((1, "a"), (2, "b")).toDF("id", "v"), root) // v0
      FaultFileSystem.losses = 3
      val c = DeltaWriter.write(Seq((3, "c")).toDF("id", "v"), root, "append")
      assert(c.version == 4L, s"3 competitors took v1..v3, got $c")
      assert(FaultFileSystem.losses == 0)
      assertDeltaClean(dir)
      // a merge re-plans per attempt: every lost round staged DV bins, cdc
      // files and appended data that must all be reclaimed
      FaultFileSystem.losses = 2
      val src = Seq((2, "B"), (4, "d")).toDF("id", "v")
      DeltaMerge.upsert(spark, root, src, Seq("id"))
      assert(DeltaLog.snapshot(spark, root).version == 7L)
      assert(DeltaLog.read(spark, root).orderBy("id").as[(Int, String)].collect().toSeq ==
        Seq((1, "a"), (2, "B"), (3, "c"), (4, "d")))
      assertDeltaClean(dir)
      // a key delete writes deletion vectors and cdc files too
      FaultFileSystem.losses = 2
      DeltaDvWriter.deleteKeys(spark, root, Seq(1).toDF("id"), Seq("id"))
      assert(DeltaLog.snapshot(spark, root).version == 10L)
      assert(DeltaLog.read(spark, root).count() == 3L)
      assertDeltaClean(dir)
    }
  }

  test("lost races: Iceberg write, deletes and compaction re-plan, no lost-round files") {
    withFaults {
      val (root, dir) = table()
      IcebergSource.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root) // v1
      FaultFileSystem.losses = 2
      IcebergSource.write(Seq((3L, "c")).toDF("id", "v"), root, "append")
      assert(icebergVersion(dir) == 4L, "2 competitors took v2, v3")
      assertIcebergClean(dir)
      FaultFileSystem.losses = 2
      IcebergSource.deleteKeys(spark, root, Seq(1L).toDF("id"), Seq("id"))
      assert(icebergVersion(dir) == 7L)
      FaultFileSystem.losses = 1
      IcebergSource.delete(spark, root, "id = 2")
      assert(icebergVersion(dir) == 9L)
      assert(IcebergSource.read(spark, root).as[(Long, String)].collect().toSeq ==
        Seq((3L, "c")))
      assertIcebergClean(dir)
      FaultFileSystem.losses = 2
      IcebergSource.write(Seq((4L, "d")).toDF("id", "v"), root, "append")
      val res = IcebergMaintenance.optimize(spark, root)
      assert(res.snapshotId.isDefined, res)
      assert(IcebergSource.read(spark, root).orderBy("id").as[(Long, String)]
        .collect().toSeq == Seq((3L, "c"), (4L, "d")))
      assertIcebergClean(dir)
      FaultFileSystem.losses = 1
      assert(IcebergMaintenance.setProperties(spark, root, Map("k" -> "v")) ==
        icebergVersion(dir))
      assert(IcebergSource.tableMeta(spark, root).properties.get("k").contains("v"))
    }
  }

  test("crash between staging and publish: version and rows unchanged, staged files removed") {
    withFaults {
      val (root, dir) = table()
      DeltaWriter.write(Seq((1, "a"), (2, "b")).toDF("id", "v"), root)
      val deltaBefore = filesUnder(dir)
      FaultFileSystem.crash = true
      intercept[IOException] {
        DeltaWriter.write(Seq((3, "c")).toDF("id", "v"), root, "append")
      }
      FaultFileSystem.crash = true
      intercept[IOException] {
        DeltaMerge.upsert(spark, root, Seq((2, "B"), (4, "d")).toDF("id", "v"), Seq("id"))
      }
      assert(DeltaLog.snapshot(spark, root).version == 0L)
      assert(DeltaLog.read(spark, root).count() == 2L)
      assert(filesUnder(dir) == deltaBefore)

      val (ice, iceDir) = table()
      IcebergSource.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), ice)
      IcebergSource.write(Seq((3L, "c")).toDF("id", "v"), ice, "append")
      val iceBefore = filesUnder(iceDir) - "metadata/version-hint.text"
      FaultFileSystem.crash = true
      intercept[IOException] {
        IcebergSource.write(Seq((4L, "d")).toDF("id", "v"), ice, "append")
      }
      FaultFileSystem.crash = true
      intercept[IOException] { IcebergSource.delete(spark, ice, "id = 1") }
      FaultFileSystem.crash = true
      intercept[IOException] { IcebergMaintenance.optimize(spark, ice) }
      assert(icebergVersion(iceDir) == 2L)
      assert(IcebergSource.read(spark, ice).count() == 3L)
      assert(filesUnder(iceDir) - "metadata/version-hint.text" == iceBefore)
    }
  }

  test("a claim that lands and then throws: the commit stands with every file it references") {
    withFaults {
      val (root, dir) = table()
      DeltaWriter.write(Seq((1, "a"), (2, "b")).toDF("id", "v"), root) // v0
      FaultFileSystem.crashAfterClaim = true
      assert(DeltaWriter.write(Seq((3, "c")).toDF("id", "v"), root, "append").version == 1L)
      FaultFileSystem.crashAfterClaim = true
      DeltaMerge.upsert(spark, root, Seq((2, "B"), (4, "d")).toDF("id", "v"), Seq("id"))
      assert(DeltaLog.snapshot(spark, root).version == 2L)
      assertDeltaClean(dir)
      // the claim cannot be read back: the failure propagates, and the
      // landed commit keeps its data
      FaultFileSystem.crashAfterClaim = true
      FaultFileSystem.unreadableAfterClaim = true
      intercept[IOException] {
        DeltaWriter.write(Seq((5, "e")).toDF("id", "v"), root, "append")
      }
      assert(DeltaLog.snapshot(spark, root).version == 3L)
      assert(DeltaLog.read(spark, root).orderBy("id").as[(Int, String)].collect().toSeq ==
        Seq((1, "a"), (2, "B"), (3, "c"), (4, "d"), (5, "e")))
      assertDeltaClean(dir)

      val (ice, iceDir) = table()
      IcebergSource.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), ice) // v1
      FaultFileSystem.crashAfterClaim = true
      IcebergSource.write(Seq((3L, "c")).toDF("id", "v"), ice, "append")
      FaultFileSystem.crashAfterClaim = true
      IcebergSource.delete(spark, ice, "id = 1")
      assert(icebergVersion(iceDir) == 3L)
      assertIcebergClean(iceDir)
      FaultFileSystem.crashAfterClaim = true
      FaultFileSystem.unreadableAfterClaim = true
      intercept[IOException] {
        IcebergSource.write(Seq((4L, "d")).toDF("id", "v"), ice, "append")
      }
      assert(icebergVersion(iceDir) == 4L)
      assert(IcebergSource.read(spark, ice).orderBy("id").as[(Long, String)]
        .collect().toSeq == Seq((2L, "b"), (3L, "c"), (4L, "d")))
      assertIcebergClean(iceDir)
    }
  }

  test("cap exhaustion: one give-up exception naming operation, root and attempts") {
    withFaults {
      val (root, dir) = table()
      DeltaWriter.write(Seq((1, "a")).toDF("id", "v"), root)
      FaultFileSystem.losses = Int.MaxValue
      val e = intercept[OptimisticCommit.GaveUpException] {
        DeltaWriter.write(Seq((2, "b")).toDF("id", "v"), root, "append")
      }
      assert(e.attempts == OptimisticCommit.MaxAttempts)
      assert(e.getMessage.contains("Delta write") && e.getMessage.contains(root) &&
        e.getMessage.contains(s"${OptimisticCommit.MaxAttempts} attempts"), e.getMessage)
      FaultFileSystem.losses = 0
      // only competitors committed; the writer's staged data is gone
      assert(DeltaLog.read(spark, root).count() == 1L)
      assertDeltaClean(dir)

      val (ice, iceDir) = table()
      IcebergSource.write(Seq((1L, "a")).toDF("id", "v"), ice)
      FaultFileSystem.losses = Int.MaxValue
      val e2 = intercept[OptimisticCommit.GaveUpException] {
        IcebergSource.write(Seq((2L, "b")).toDF("id", "v"), ice, "append")
      }
      assert(e2.operation == "Iceberg write" && e2.root == ice &&
        e2.attempts == OptimisticCommit.MaxAttempts, e2.getMessage)
      FaultFileSystem.losses = 0
      assert(IcebergSource.read(spark, ice).count() == 1L)
      assertIcebergClean(iceDir)
    }
  }

  test("foreign layout: a metadata file appearing before the claim is a lost race") {
    withFaults {
      val (root, dir) = table()
      for (i <- 0 until 4)
        IcebergSource.write(Seq((i, s"w$i")).toDF("id", "who"), root,
          if (i == 0) "overwrite" else "append")
      // rename to another engine's `0000N-<uuid>.metadata.json` layout;
      // v4 is held back and appears only while the next write is planned
      val metaDir = new File(dir, "metadata")
      def foreign(v: Int) = new File(metaDir,
        s"0000$v-00000000-0000-0000-0000-00000000000$v.metadata.json")
      val v4 = Files.readAllBytes(new File(metaDir, "v4.metadata.json").toPath)
      assert(new File(metaDir, "v4.metadata.json").delete())
      for (v <- 1 to 3)
        assert(new File(metaDir, s"v$v.metadata.json").renameTo(foreign(v)))
      new File(metaDir, "version-hint.text").delete()
      assert(IcebergSource.tableMeta(spark, root).version == 0L)
      assert(IcebergSource.read(spark, root).count() == 3L)

      FaultFileSystem.beforeManifest = Some(() => { Files.write(foreign(4).toPath, v4); () })
      IcebergSource.write(Seq((99, "late")).toDF("id", "who"), root, "append")
      // planned on 00003 (3 rows), re-planned on 00004 (4 rows): the
      // committed v1 keeps the foreign writer's row
      assert(IcebergSource.tableMeta(spark, root).version == 1L)
      assert(IcebergSource.read(spark, root).as[(Int, String)].collect().toSet ==
        Set((0, "w0"), (1, "w1"), (2, "w2"), (3, "w3"), (99, "late")))
    }
  }
}
