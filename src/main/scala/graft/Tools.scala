package graft

import org.apache.spark.sql.SparkSession

/**
 * Inspection CLI: the reference's `list` / `graph` / `catalog` /
 * `lineage` commands (reference: odibi/cli/list_cmd.py, graph.py,
 * catalog.py, lineage.py), distilled to the four verbs users reach for
 * between runs.
 *
 * {{{
 * usage: graft.Tools <command> [args]
 *   list                                  registered transformers/patterns/recipes (no Spark)
 *   graph <config.yaml> [--set K=V]       pipeline DAG as Graphviz DOT (no Spark)
 *   catalog <root> <meta_table> [--pipeline P] [-n N]   dump a meta table as JSON lines
 *   lineage <root> [--pipeline P] [--node N]            node + column lineage edges
 * }}}
 *
 * `list` and `graph` are registry/planner-driven and never start Spark;
 * `catalog` and `lineage` read the system catalog's parquet tables with
 * a live session when one exists, else a local one. Exit 0 on success,
 * 1 on missing data (unknown table, no lineage), 2 on usage errors.
 */
object Tools {

  private val usage: String =
    """usage: graft.Tools <list | graph <yaml> | export <yaml> | catalog <root> <table> | lineage <root> | schema <root> ...>
      |  graph:   [--set K=V ...]
      |  export:  --target airflow|dagster --out FILE [--pipeline P] [--set K=V ...]
      |  catalog: [--pipeline P] [-n N] | catalog <root> --tables
      |  lineage: [--pipeline P] [--node N]
      |  schema:  <root> history <node> [--pipeline P] [--limit N]
      |           <root> diff <node> [--from V] [--to V] [--pipeline P]
      |           <root> drift <node> [--pipeline P]
      |  story:   <dir> [--pipeline P] [--run ID]
      |  secrets: init <yaml> [-o FILE] [--force]
      |           validate <yaml> [--set K=V ...]
      |  sync:    <sourceRoot> <targetRoot> [--tables a,b] [--mode incremental|full]
      |  deploy:  <yaml> [--set K=V ...]
      |  templates: list | show <name> | transformer <name> | schema [--out FILE]
      |  docs:    [--out DIR]   (regenerate operators.md, yaml_schema.md, graft.schema.json)
      |  system:  rebuild-summaries <root> [--run-id ID] [--sla P=HOURS ...] [--default-sla H]
      |  ui:      <root> --out DIR [--story DIR] [--config YAML] [--sla P=HOURS ...] [--default-sla H]
      |           [--watch [--interval SECONDS] [--max-renders N]]
      |           | <root> --serve [--port N] [--max-seconds S]   (live HTTP dashboard)
      |  delta:   optimize <root> [--target-file-mb N] [--zorder-by a,b]
      |           vacuum <root> [--retention-hours H] [--dry-run] | history <root>
      |           cleanup-logs <root> [--retention-hours H] [--dry-run]
      |           rename-column <root> <from> <to>   (column-mapped tables)
      |           drop-column <root> <name>   (column-mapped tables)
      |           delete <root> <predicate> [--partition K=V ...]   (deletion vectors)
      |  iceberg: history <root> | optimize [--zorder-by a,b] | expire
      |           cleanup-metadata <root> [--keep-last N] [--dry-run]
      |           set-properties <root> k=v[,k=v...]   (e.g. write.metadata.previous-versions-max=20)
      |           rename-column <root> <from> <to> | drop-column <root> <name>
      |           delete <root> <predicate> [--partition K=V ...]   (position deletes)
      |  index:   info <root>   (persisted minhash/bloom/lsh/ivf/ivfpq index)
      |  stats:   <parquet-root> [--columns a,b]   (per-file footer stats + skipping audit)
      |  compact: <parquet-root> [--target-mb N]   (atomic small-file rewrite)
      |  expire:  <root> --column C --before VALUE [--dry-run]   (partition TTL)""".stripMargin

  def main(argv: Array[String]): Unit = sys.exit(mainExit(argv))

  private[graft] def mainExit(argv: Array[String]): Int = argv.toList match {
    case "list" :: Nil => listCommand()
    case "graph" :: rest => graphCommand(rest)
    case "export" :: rest => exportCommand(rest)
    case "catalog" :: rest => catalogCommand(rest)
    case "lineage" :: rest => lineageCommand(rest)
    case "schema" :: rest => schemaCommand(rest)
    case "story" :: rest => storyCommand(rest)
    case "secrets" :: rest => secretsCommand(rest)
    case "sync" :: rest => syncCommand(rest)
    case "deploy" :: rest => deployCommand(rest)
    case "templates" :: rest => templatesCommand(rest)
    case "system" :: rest => systemCommand(rest)
    case "ui" :: rest => uiCommand(rest)
    case "docs" :: rest => docsCommand(rest)
    case "delta" :: rest => deltaCommand(rest)
    case "index" :: rest => indexCommand(rest)
    case "stats" :: rest => statsCommand(rest)
    case "compact" :: rest => compactCommand(rest)
    case "expire" :: rest => expireCommand(rest)
    case "iceberg" :: rest => icebergCommand(rest)
    case _ =>
      System.err.println(usage)
      2
  }

  /** Inspection verbs for native Iceberg tables (snapshot history —
    * the DESCRIBE HISTORY equivalent over the public spec). */
  private def icebergCommand(args: List[String]): Int = {
    def flagValue(rest: List[String], name: String): Option[String] =
      rest.sliding(2).collectFirst { case List(`name`, v) => v }
    args match {
    case "history" :: root :: Nil =>
      withSpark { spark =>
        graft.sources.IcebergSource.snapshots(spark, root).foreach { s =>
          println(s"snapshot=${s.snapshotId} ts=${s.timestampMs} " +
            s"op=${s.operation} manifests=${
              s.manifestList.map(_ => "list").getOrElse(s.inlineManifests.size.toString)}")
        }
        0
      }
    case "skip-report" :: root :: predicate :: Nil =>
      withSpark { spark =>
        val pr = graft.sources.IcebergSource.pruneReport(spark, root,
          org.apache.spark.sql.functions.expr(predicate))
        println(s"files: ${pr.kept}/${pr.candidates} kept (${pr.skipped} skipped)")
        0
      }
    case "optimize" :: root :: rest =>
      val targetMb = flagValue(rest, "--target-file-mb").map(_.toLong).getOrElse(128L)
      val zorder = flagValue(rest, "--zorder-by")
        .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
      withSpark { spark =>
        val r = graft.sources.IcebergMaintenance.optimize(spark, root,
          targetFileBytes = targetMb << 20, zorderBy = zorder)
        println(r.snapshotId match {
          case Some(id) => s"optimized: snapshot=$id filesRemoved=${r.filesRemoved} " +
            s"filesAdded=${r.filesAdded} bytesRemoved=${r.bytesRemoved} bytesAdded=${r.bytesAdded}"
          case None => "nothing to optimize"
        })
        0
      }
    case "expire" :: root :: rest =>
      val keepLast = flagValue(rest, "--keep-last").map(_.toInt).getOrElse(1)
      val olderThan = flagValue(rest, "--older-than-ms").map(_.toLong)
      val dryRun = rest.contains("--dry-run")
      withSpark { spark =>
        val r = graft.sources.IcebergMaintenance.expireSnapshots(spark, root,
          keepLast = keepLast, olderThanMs = olderThan, dryRun = dryRun)
        println(s"${if (dryRun) "would expire" else "expired"}: " +
          s"snapshots=${r.expiredSnapshots.mkString(",")} files=${r.deletedFiles.size}")
        0
      }
    case "rename-column" :: root :: from :: to :: Nil =>
      withSpark { spark =>
        val v = graft.sources.IcebergMaintenance.renameColumn(spark, root, from, to)
        println(s"renamed '$from' -> '$to' at $root (metadata v$v)")
        0
      }
    case "drop-column" :: root :: name :: Nil =>
      withSpark { spark =>
        val v = graft.sources.IcebergMaintenance.dropColumn(spark, root, name)
        println(s"dropped '$name' at $root (metadata v$v)")
        0
      }
    case "set-properties" :: root :: kvs :: Nil =>
      val props = kvs.split(",").toSeq.filter(_.nonEmpty).map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => k.trim -> v.trim
          case _ =>
            System.err.println(s"set-properties expects k=v, got '$kv'")
            return 2
        }
      }.toMap
      withSpark { spark =>
        val v = graft.sources.IcebergMaintenance.setProperties(spark, root, props)
        println(s"set ${props.keys.toSeq.sorted.mkString(",")} at $root " +
          s"(metadata v$v)")
        0
      }
    case "cleanup-metadata" :: root :: rest =>
      // strict arg loop (same discipline as `delete`): on a DESTRUCTIVE
      // verb a typo'd flag must exit with usage, not be silently ignored
      // (a mistyped --dry-run would otherwise delete for real)
      var keepLast = 100; var dryRun = false
      var r = rest
      while (r.nonEmpty) r match {
        case "--keep-last" :: v :: t => keepLast = v.toInt; r = t
        case "--dry-run" :: t => dryRun = true; r = t
        case other :: _ =>
          System.err.println(s"unknown cleanup-metadata arg $other"); return 2
        case Nil => ()
      }
      withSpark { spark =>
        val deleted = graft.sources.IcebergMaintenance.cleanupMetadata(
          spark, root, keepLast, dryRun)
        println(s"${if (dryRun) "would delete" else "deleted"} " +
          s"${deleted.size} historical metadata files at $root")
        deleted.foreach(p => println(s"  $p"))
        0
      }
    case "delete" :: root :: predicate :: rest =>
      // strict arg loop (same discipline as `delta delete`): on a
      // DESTRUCTIVE verb a typo'd flag must exit with usage, not be
      // silently ignored (a dropped --partition only widens the scan,
      // but an unknown trailing token usually means a mangled predicate)
      val pf = scala.collection.mutable.ArrayBuffer[
        graft.sources.IcebergSource.PartitionPredicate]()
      var r = rest
      while (r.nonEmpty) r match {
        case "--partition" :: kv :: t => kv.split("=", 2) match {
          case Array(k, v) if k.nonEmpty =>
            pf += graft.sources.IcebergSource.PartitionPredicate(k, "=", v)
            r = t
          case _ =>
            System.err.println(s"malformed --partition '$kv' (want K=V)")
            return 2
        }
        case other =>
          System.err.println(s"unknown iceberg delete args $other")
          return 2
      }
      withSpark { spark =>
        val res = graft.sources.IcebergSource.delete(spark, root, predicate,
          partitionFilter = pf.toSeq)
        println(res.snapshotId match {
          case Some(id) => s"deleted ${res.deletedRows} rows at $root as " +
            s"position deletes (snapshot=$id, ${res.deleteFiles} delete files)"
          case None => s"nothing matched at $root"
        })
        0
      }
    case "rollback" :: root :: snap :: Nil if snap.forall(_.isDigit) =>
      withSpark { spark =>
        val v = graft.sources.IcebergMaintenance.rollback(spark, root, snap.toLong)
        println(s"rolled back $root to snapshot $snap (metadata v$v)")
        0
      }
    case "delete-keys" :: root :: rest =>
      // equality-delete by key (scan-free): keys come from a parquet
      // frame; strict arg loop, destructive-verb discipline
      var keys: Seq[String] = Nil
      var from: Option[String] = None
      var r = rest
      while (r.nonEmpty) r match {
        case "--keys" :: v :: t => keys = v.split(",").toSeq.filter(_.nonEmpty); r = t
        case "--from" :: v :: t => from = Some(v); r = t
        case other =>
          System.err.println(s"unknown iceberg delete-keys args $other")
          return 2
      }
      if (keys.isEmpty || from.isEmpty) {
        System.err.println(
          "usage: graft.Tools iceberg delete-keys <root> --keys k1[,k2..] --from <key-parquet>")
        return 2
      }
      withSpark { spark =>
        val res = graft.sources.IcebergSource.deleteKeys(spark, root,
          spark.read.parquet(from.get), keys)
        println(res.snapshotId match {
          case Some(id) => s"committed ${res.deletedRows} equality-delete keys " +
            s"at $root (snapshot=$id, ${res.deleteFiles} delete files)"
          case None => s"no keys to delete at $root"
        })
        0
      }
    case _ =>
      System.err.println("usage: graft.Tools iceberg history <root> | " +
        "optimize <root> [--target-file-mb N] | " +
        "expire <root> [--keep-last N] [--older-than-ms T] [--dry-run] | " +
        "delete <root> <predicate> [--partition K=V ...] | " +
        "delete-keys <root> --keys k1[,k2..] --from <key-parquet> | " +
        "rollback <root> <snapshot-id> | " +
        "skip-report <root> <predicate>")
      2
    }
  }

  /** Atomic in-place compaction of a plain parquet sink. */
  private def compactCommand(args: List[String]): Int = args match {
    case root :: rest =>
      var target = 128
      rest match {
        case "--target-mb" :: v :: Nil => target = v.toInt
        case Nil => ()
        case other => System.err.println(s"unknown compact args $other"); return 2
      }
      withSpark { spark =>
        val (before, after) =
          graft.sources.Sources.compactParquet(spark, root, target)
        println(s"compacted $root: $before files -> $after")
        0
      }
    case _ =>
      System.err.println("usage: graft.Tools compact <parquet-root> [--target-mb N]")
      2
  }

  /** Partition TTL: delete hive partition dirs sorting below a cutoff. */
  private def expireCommand(args: List[String]): Int = args match {
    case root :: rest =>
      var column: Option[String] = None
      var before: Option[String] = None
      var dry = false
      var r = rest
      while (r.nonEmpty) r match {
        case "--column" :: v :: t => column = Some(v); r = t
        case "--before" :: v :: t => before = Some(v); r = t
        case "--dry-run" :: t => dry = true; r = t
        case other :: _ =>
          System.err.println(s"unknown expire arg $other"); return 2
        case Nil => ()
      }
      (column, before) match {
        case (Some(c), Some(b)) =>
          withSpark { spark =>
            val gone = graft.sources.Sources.expirePartitions(spark, root, c, b, dry)
            val verb = if (dry) "would delete" else "deleted"
            println(s"$verb ${gone.size} partition(s): ${gone.mkString(", ")}")
            0
          }
        case _ =>
          System.err.println("expire requires --column and --before")
          2
      }
    case _ =>
      System.err.println(
        "usage: graft.Tools expire <root> --column C --before VALUE [--dry-run]")
      2
  }

  /** Per-file parquet footer statistics + the range-overlap skipping
    * audit (graft.core.Discovery.parquetFileStats / rangeOverlap). */
  private def statsCommand(args: List[String]): Int = args match {
    case root :: rest =>
      var cols: Seq[String] = Nil
      rest match {
        case "--columns" :: v :: Nil => cols = v.split(",").toSeq.map(_.trim)
        case Nil => ()
        case other =>
          System.err.println(s"unknown stats args $other"); return 2
      }
      withSpark { spark =>
        val stats = graft.core.Discovery.parquetFileStats(spark, root, cols)
        val rows = stats.orderBy("file").collect()
        rows.foreach { r =>
          val extra = cols.map(c =>
            s" $c=[${r.getAs[String](s"min_$c")}..${r.getAs[String](s"max_$c")}]")
            .mkString
          println(s"${r.getAs[String]("file").split("/").last}: " +
            s"rows=${r.getAs[Long]("rows")} groups=${r.getAs[Int]("row_groups")} " +
            s"bytes=${r.getAs[Long]("compressed_bytes")}$extra")
        }
        cols.foreach { c =>
          val ov = graft.core.Discovery.rangeOverlap(stats, c)
          println(f"overlap[$c] = $ov%.3f  (0 = perfectly clustered, 1 = no skipping)")
        }
        0
      }
    case _ =>
      System.err.println("usage: graft.Tools stats <parquet-root> [--columns a,b]")
      2
  }

  /** Inspect a persisted similarity/dedup index — kind detected from the
    * on-disk layout, stored parameters, and per-component file stats.
    * Driver-side FS metadata only: no Spark session, so it is safe to run
    * against a production index while jobs are probing it. */
  private def indexCommand(args: List[String]): Int = args match {
    case "info" :: path :: Nil =>
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(new org.apache.hadoop.conf.Configuration())
      if (!fs.exists(root)) { System.err.println(s"no index at $path"); return 2 }
      def has(n: String) = fs.exists(new org.apache.hadoop.fs.Path(root, n))
      def stats(n: String): Unit = {
        val sub = new org.apache.hadoop.fs.Path(root, n)
        if (fs.exists(sub)) {
          val sum = fs.getContentSummary(sub)
          println(s"  $n: files=${sum.getFileCount} bytes=${sum.getLength}")
        }
      }
      val kind =
        if (has("bloom.bin")) "bloom"
        else if (has("sigs") && has("bands")) "minhash"
        else if (has("codebook")) "ivfpq"
        else if (has("centroids")) "ivf"
        else if (has("bands") && has("meta")) "lsh"
        else "unknown"
      println(s"kind=$kind root=$path")
      if (has("params.json")) {
        val in = fs.open(new org.apache.hadoop.fs.Path(root, "params.json"))
        val js = try new String(in.readAllBytes(), "UTF-8") finally in.close()
        println(s"params=$js")
      }
      val components = kind match {
        case "bloom" => Seq("bloom.bin")
        case "minhash" => Seq("bands", "sigs")
        case "lsh" => Seq("bands", "meta")
        case "ivf" => Seq("cells", "centroids", "meta")
        case "ivfpq" => Seq("cells", "codebook", "vecs", "meta")
        case _ => Nil
      }
      components.foreach(stats)
      if (kind == "unknown") {
        System.err.println(
          "unrecognized layout — expected one of: bloom.bin (bloom), " +
            "bands+sigs (minhash), bands+meta (lsh), cells+centroids (ivf), " +
            "codebook (ivfpq)")
        return 1
      }
      0
    case _ =>
      System.err.println("usage: graft.Tools index info <root>")
      2
  }

  /** Maintenance verbs for native Delta tables (the reference runs these
    * through delta-spark's OPTIMIZE/VACUUM/DESCRIBE HISTORY; here they run
    * on [[graft.sources.DeltaMaintenance]] over the public protocol). */
  private def deltaCommand(args: List[String]): Int = args match {
    case "skip-report" :: root :: predicate :: Nil =>
      // what WOULD a dataFilter read touch: file/byte counts before and
      // after stats-based skipping — the ops check for "is my table
      // clustered well enough for this query" before paying the scan
      withSpark { spark =>
        val snap = graft.sources.DeltaLog.snapshot(spark, root)
        val pr = graft.sources.DeltaStats.prune(spark, snap,
          org.apache.spark.sql.functions.expr(predicate))
        val keptBytes = pr.files.map(_.size).sum
        val totalBytes = snap.files.map(_.size).sum
        println(s"files: ${pr.kept}/${pr.candidates} kept " +
          s"(${pr.skipped} skipped); bytes: $keptBytes/$totalBytes")
        0
      }
    case "optimize" :: root :: rest =>
      var target = 128L << 20; var zorder: Seq[String] = Nil
      var r = rest
      while (r.nonEmpty) r match {
        case "--target-file-mb" :: v :: t => target = v.toLong << 20; r = t
        case "--zorder-by" :: v :: t => zorder = v.split(",").toSeq.map(_.trim); r = t
        case other :: _ => System.err.println(s"unknown optimize arg $other"); return 2
        case Nil => ()
      }
      withSpark { spark =>
        val res = graft.sources.DeltaMaintenance.optimize(
          spark, root, targetFileBytes = target, zorderBy = zorder)
        res.version match {
          case Some(v) => println(
            s"optimized $root at version $v: ${res.filesRemoved} files " +
              s"(${res.bytesRemoved} B) -> ${res.filesAdded} files (${res.bytesAdded} B)")
          case None => println(s"nothing to optimize at $root")
        }
        0
      }
    case "vacuum" :: root :: rest =>
      var hours = 168.0; var dry = false
      var r = rest
      while (r.nonEmpty) r match {
        case "--retention-hours" :: v :: t => hours = v.toDouble; r = t
        case "--dry-run" :: t => dry = true; r = t
        case other :: _ => System.err.println(s"unknown vacuum arg $other"); return 2
        case Nil => ()
      }
      withSpark { spark =>
        val res = graft.sources.DeltaMaintenance.vacuum(spark, root, hours, dry)
        val verb = if (dry) "would delete" else "deleted"
        println(s"$verb ${res.deleted.size} files (${res.bytes} B) at $root")
        res.deleted.foreach(p => println(s"  $p"))
        0
      }
    case "rename-column" :: root :: from :: to :: Nil =>
      withSpark { spark =>
        val c = graft.sources.DeltaWriter.renameColumn(spark, root, from, to)
        println(s"renamed '$from' -> '$to' at $root (version ${c.version})")
        0
      }
    case "drop-column" :: root :: name :: Nil =>
      withSpark { spark =>
        val c = graft.sources.DeltaWriter.dropColumn(spark, root, name)
        println(s"dropped '$name' at $root (version ${c.version})")
        0
      }
    case "cleanup-logs" :: root :: rest =>
      var hours = 720.0; var dry = false
      var r = rest
      while (r.nonEmpty) r match {
        case "--retention-hours" :: v :: t => hours = v.toDouble; r = t
        case "--dry-run" :: t => dry = true; r = t
        case other :: _ => System.err.println(s"unknown cleanup-logs arg $other"); return 2
        case Nil => ()
      }
      withSpark { spark =>
        val res = graft.sources.DeltaMaintenance.cleanupLogs(spark, root, hours, dry)
        val verb = if (dry) "would delete" else "deleted"
        println(s"$verb ${res.deletedCommits.size} commit jsons, " +
          s"${res.deletedCheckpoints.size} checkpoints, " +
          s"${res.deletedSidecars.size} sidecars at $root")
        0
      }
    case "history" :: root :: Nil =>
      withSpark { spark =>
        graft.sources.DeltaMaintenance.history(spark, root)
          .collect().foreach { row =>
            println(s"v${row.getLong(0)} ts=${row.getLong(1)} op=${row.getString(2)} " +
              s"adds=${row.getInt(5)} removes=${row.getInt(6)} params=${row.getString(3)}")
          }
        0
      }
    case "delete" :: root :: predicate :: rest =>
      var pf = Map.empty[String, String]
      var r = rest
      while (r.nonEmpty) r match {
        case "--partition" :: kv :: t => kv.split("=", 2) match {
          case Array(k, v) => pf += (k -> v); r = t
          case _ => System.err.println(s"--partition needs K=V, got $kv"); return 2
        }
        case other :: _ => System.err.println(s"unknown delete arg $other"); return 2
        case Nil => ()
      }
      withSpark { spark =>
        val res = graft.sources.DeltaDvWriter.delete(spark, root, predicate,
          partitionFilter = pf)
        if (res.deletedRows == 0) println(s"nothing matched at $root")
        else println(s"deleted ${res.deletedRows} rows at $root version " +
          s"${res.version} as deletion vectors (${res.filesTouched} files " +
          s"vectored, ${res.dvFiles} DV files written)")
        0
      }
    case "restore" :: root :: rest =>
      val done = withSpark { spark =>
        val res = rest match {
          case v :: Nil if v.forall(_.isDigit) =>
            graft.sources.DeltaMaintenance.restore(spark, root, v.toLong)
          case "--timestamp-ms" :: t :: Nil if t.forall(_.isDigit) =>
            graft.sources.DeltaMaintenance.restoreTimestamp(spark, root, t.toLong)
          case other =>
            System.err.println(
              s"usage: graft.Tools delta restore <root> <version> | " +
                s"--timestamp-ms T (got $other)")
            return 2
        }
        println(s"restored $root to version ${res.restoredToVersion} as " +
          s"version ${res.version} (${res.filesAdded} adds, " +
          s"${res.filesRemoved} removes)")
        0
      }
      done
    case "merge" :: root :: rest =>
      // file-scoped copy-on-write MERGE: DV bitmaps for matched rows +
      // new files for replacements/inserts, one atomic commit
      var keys: Seq[String] = Nil
      var from: Option[String] = None
      var strategy = "upsert"
      var pf = Map.empty[String, String]
      var schemaMode = "enforce"
      var onNew = "add_nullable"
      var onMissing = "fill_null"
      var r = rest
      while (r.nonEmpty) r match {
        case "--keys" :: v :: t => keys = v.split(",").toSeq.filter(_.nonEmpty); r = t
        case "--from" :: v :: t => from = Some(v); r = t
        case "--strategy" :: v :: t => strategy = v; r = t
        case "--schema-mode" :: v :: t => schemaMode = v; r = t
        case "--on-new-columns" :: v :: t => onNew = v; r = t
        case "--on-missing-columns" :: v :: t => onMissing = v; r = t
        case "--partition" :: kv :: t => kv.split("=", 2) match {
          case Array(k, v) => pf += (k -> v); r = t
          case _ => System.err.println(s"--partition needs K=V, got $kv"); return 2
        }
        case other :: _ => System.err.println(s"unknown merge arg $other"); return 2
        case Nil => ()
      }
      if (keys.isEmpty || from.isEmpty) {
        System.err.println("usage: graft.Tools delta merge <root> --keys k1[,k2..] " +
          "--from <source-parquet> [--strategy upsert|delete_match|append_only] " +
          "[--partition K=V ...] [--schema-mode enforce|evolve] " +
          "[--on-new-columns add_nullable|ignore|fail] " +
          "[--on-missing-columns fill_null|fail]")
        return 2
      }
      val policy =
        try graft.sources.DeltaSchema.Policy(schemaMode, onNew, onMissing)
        catch {
          case e: IllegalArgumentException =>
            System.err.println(e.getMessage); return 2
        }
      withSpark { spark =>
        val src = spark.read.parquet(from.get)
        val res = strategy match {
          case "upsert" => graft.sources.DeltaMerge.upsert(spark, root, src,
            keys, partitionFilter = pf, schemaPolicy = policy)
          case "delete_match" => graft.sources.DeltaMerge.deleteMatch(spark,
            root, src, keys, partitionFilter = pf)
          case "append_only" =>
            graft.sources.DeltaMerge.appendOnly(spark, root, src, keys,
              schemaPolicy = policy)
          case other =>
            System.err.println(s"unknown merge strategy '$other'"); return 2
        }
        println(s"merged into $root at version ${res.version}: " +
          s"${res.rowsDeleted} rows vectored across ${res.filesTouched} files, " +
          s"${res.rowsAppended} rows appended in ${res.filesAdded} files")
        0
      }
    case _ =>
      System.err.println(
        """usage: graft.Tools delta optimize <root> [--target-file-mb N] [--zorder-by a,b]
          |       graft.Tools delta vacuum <root> [--retention-hours H] [--dry-run]
          |       graft.Tools delta delete <root> <predicate> [--partition K=V ...]
          |       graft.Tools delta merge <root> --keys k1[,k2..] --from <source-parquet> [--strategy S] [--partition K=V ...] [--schema-mode enforce|evolve]
          |       graft.Tools delta restore <root> <version>
          |       graft.Tools delta history <root>
          |       graft.Tools delta skip-report <root> <predicate>""".stripMargin)
      2
  }

  private def listCommand(): Int = {
    graft.core.Introspect.inventory().toSeq.sortBy(_._1).foreach {
      case (kind, names) =>
        println(s"$kind (${names.size}):")
        names.foreach(n => println(s"  $n"))
    }
    0
  }

  /** DOT digraph of the config's DAG, colored by node kind — pipe to
    * `dot -Tsvg`. Invalid configs print diagnostics on stderr, exit 1. */
  private def graphCommand(args: List[String]): Int = {
    var config: Option[String] = None
    var subs = Map.empty[String, String]
    var rest = args
    while (rest.nonEmpty) rest match {
      case "--set" :: kv :: t => kv.split("=", 2) match {
        case Array(k, v) => subs += (k -> v); rest = t
        case _ => System.err.println(s"--set needs K=V, got $kv"); return 2
      }
      case v :: t if config.isEmpty => config = Some(v); rest = t
      case other :: _ =>
        System.err.println(s"unexpected argument $other"); return 2
    }
    config match {
      case None => System.err.println(usage); 2
      case Some(path) =>
        if (!java.nio.file.Files.isReadable(java.nio.file.Paths.get(path))) {
          System.err.println(s"error: cannot read $path"); return 2
        }
        val text = graft.core.Secrets.substitute(
          new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(path)), "UTF-8"), subs,
          Option(java.nio.file.Paths.get(path).getParent).map(_.toString))
        val response =
          try graft.core.Planner.plan(text,
            Option(java.nio.file.Paths.get(path).getParent).map(_.toString))
          catch {
            case e: Exception =>
              System.err.println(s"error: cannot parse $path: ${e.getMessage}")
              return 1
          }
        response.plan.orElse(response.pipelinePlans.headOption) match {
          case None =>
            response.diagnostics.foreach(d =>
              System.err.println(s"${d.severity}: ${d.subject}: ${d.message}"))
            1
          case Some(_) =>
            val plans =
              if (response.pipelinePlans.nonEmpty) response.pipelinePlans
              else response.plan.toSeq
            println("digraph pipeline {")
            println("  rankdir=LR; node [shape=box, fontname=\"sans-serif\"];")
            plans.foreach { p =>
              p.nodes.foreach { n =>
                val color = n.kind match {
                  case "source" => "#e3f2fd"
                  case "semantic" => "#f3e5f5"
                  case "generator" => "#fff8e1"
                  case _ => "#e8f5e9"
                }
                val sink = n.writePath.map(_ => ", peripheries=2").getOrElse("")
                println(s"""  "${p.pipeline}.${n.name}" [label="${n.name}\\n(${n.kind})", style=filled, fillcolor="$color"$sink];""")
              }
              p.edges.foreach { case (dep, node) =>
                println(s"""  "${p.pipeline}.$dep" -> "${p.pipeline}.$node";""")
              }
            }
            println("}")
            0
        }
    }
  }

  /** Render the planned DAG as an Airflow DAG module (one pipeline) or a
    * Dagster definitions module (whole project) — reference
    * odibi/cli/export.py:1-66. No Spark; planner-validated configs only. */
  private def exportCommand(args: List[String]): Int = {
    var config: Option[String] = None
    var target: Option[String] = None
    var out: Option[String] = None
    var pipeline: Option[String] = None
    var subs = Map.empty[String, String]
    var rest = args
    while (rest.nonEmpty) rest match {
      case "--target" :: v :: t => target = Some(v); rest = t
      case "--out" :: v :: t => out = Some(v); rest = t
      case "--pipeline" :: v :: t => pipeline = Some(v); rest = t
      case "--set" :: kv :: t => kv.split("=", 2) match {
        case Array(k, v) => subs += (k -> v); rest = t
        case _ => System.err.println(s"--set needs K=V, got $kv"); return 2
      }
      case v :: t if config.isEmpty && !v.startsWith("-") => config = Some(v); rest = t
      case other :: _ =>
        System.err.println(s"unexpected argument $other"); return 2
    }
    (config, target, out) match {
      case (Some(path), Some(tgt), Some(outFile)) =>
        if (!Set("airflow", "dagster").contains(tgt)) {
          System.err.println(s"error: --target must be airflow or dagster, got $tgt")
          return 2
        }
        val p = java.nio.file.Paths.get(path)
        if (!java.nio.file.Files.isReadable(p)) {
          System.err.println(s"error: cannot read $path"); return 2
        }
        val text = graft.core.Secrets.substitute(
          java.nio.file.Files.readString(p), subs,
          Option(p.getParent).map(_.toString))
        val response =
          try graft.core.Planner.plan(text, Option(p.getParent).map(_.toString))
          catch {
            case e: Exception =>
              System.err.println(s"error: cannot parse $path: ${e.getMessage}")
              return 1
          }
        val plans =
          if (response.pipelinePlans.nonEmpty) response.pipelinePlans
          else response.plan.toSeq
        if (plans.isEmpty) {
          response.diagnostics.foreach(d =>
            System.err.println(s"${d.severity}: ${d.subject}: ${d.message}"))
          return 1
        }
        // the project's display name: top-level `project:`/`name:` when
        // present, else the sole pipeline's name
        val project =
          try new org.yaml.snakeyaml.Yaml().load[Any](text) match {
            case m: java.util.Map[_, _] =>
              Option(m.get("project")).orElse(Option(m.get("name")))
                .map(_.toString).getOrElse(plans.head.pipeline)
            case _ => plans.head.pipeline
          } catch { case _: Exception => plans.head.pipeline }
        val configAbs = p.toAbsolutePath.toString
        val code =
          try tgt match {
            case "airflow" =>
              val chosen = pipeline match {
                case Some(name) => plans.find(_.pipeline == name).getOrElse {
                  System.err.println(s"error: pipeline '$name' not found; " +
                    s"have: ${plans.map(_.pipeline).mkString(", ")}")
                  return 1
                }
                case None if plans.size == 1 => plans.head
                case None =>
                  System.err.println("error: --pipeline is required for airflow " +
                    s"export of a multi-pipeline project; have: ${plans.map(_.pipeline).mkString(", ")}")
                  return 2
              }
              graft.core.Orchestration.airflowDag(project, chosen, configAbs,
                subs.toSeq.sortBy(_._1))
            case _ =>
              graft.core.Orchestration.dagsterDefs(project, plans, configAbs,
                subs.toSeq.sortBy(_._1))
          } catch {
            case e: IllegalArgumentException =>
              System.err.println(s"error: ${e.getMessage}")
              return 1
          }
        val outPath = java.nio.file.Paths.get(outFile)
        Option(outPath.getParent).foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.writeString(outPath, code)
        println(s"exported $tgt definitions to $outFile")
        0
      case _ =>
        System.err.println(s"error: export needs <yaml> --target and --out\n$usage")
        2
    }
  }

  // ------------------------------------------------------------------
  // schema: version history / diff / live-sink drift over meta_schemas
  // (reference: odibi/cli/schema.py:1-208 — history prints one line per
  // version with +added/-removed/~retyped columns; diff compares two
  // versions column by column). The catalog appends a schema snapshot
  // every recorded run, so versions here are the CHANGE points: a new
  // version starts whenever the DDL differs from the previous snapshot.
  // ------------------------------------------------------------------

  /** One schema version: number (1-based), first-seen timestamp, and the
    * column name → SQL type map parsed from the recorded DDL. */
  private final case class SchemaVersion(version: Int, capturedAt: java.sql.Timestamp,
                                         columns: Seq[(String, String)]) {
    def columnMap: Map[String, String] = columns.toMap
  }

  /** Collapse the node's append-per-run snapshots into change-point
    * versions, oldest first. */
  private def schemaVersions(catalog: graft.core.Catalog, node: String,
                             pipeline: Option[String]): Seq[SchemaVersion] = {
    import org.apache.spark.sql.functions.col
    var df = catalog.table("meta_schemas").filter(col("node") === node)
    pipeline.foreach(p => df = df.filter(col("pipeline") === p))
    val snaps = df.select("schema_ddl", "recorded_at")
      .orderBy(col("recorded_at").asc)
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1)))
    val changes = snaps.foldLeft(Vector.empty[(String, java.sql.Timestamp)]) {
      case (acc, (ddl, at)) =>
        if (acc.lastOption.exists(_._1 == ddl)) acc else acc :+ (ddl, at)
    }
    changes.zipWithIndex.map { case ((ddl, at), i) =>
      val cols = org.apache.spark.sql.types.StructType.fromDDL(ddl)
        .fields.toSeq.map(f => f.name -> f.dataType.sql)
      SchemaVersion(i + 1, at, cols)
    }
  }

  /** +added / -removed / ~retyped between two column maps, in stable order. */
  private def schemaChanges(from: Map[String, String], to: Map[String, String])
      : (Seq[String], Seq[String], Seq[String]) = {
    val added = to.keys.filterNot(from.contains).toSeq.sorted
    val removed = from.keys.filterNot(to.contains).toSeq.sorted
    val retyped = to.keys.filter(k => from.get(k).exists(_ != to(k))).toSeq.sorted
    (added, removed, retyped)
  }

  private def schemaCommand(args: List[String]): Int = {
    var pos = List.empty[String]
    var pipeline: Option[String] = None
    var limit = 10
    var fromV: Option[Int] = None
    var toV: Option[Int] = None
    var rest = args
    while (rest.nonEmpty) rest match {
      case "--pipeline" :: v :: t => pipeline = Some(v); rest = t
      case "--limit" :: v :: t => limit = v.toInt; rest = t
      case "--from" :: v :: t => fromV = Some(v.toInt); rest = t
      case "--to" :: v :: t => toV = Some(v.toInt); rest = t
      case v :: t if !v.startsWith("-") => pos = pos :+ v; rest = t
      case other :: _ =>
        System.err.println(s"unexpected argument $other"); return 2
    }
    pos match {
      case root :: verb :: node :: Nil if Set("history", "diff", "drift")(verb) =>
        withSpark { spark =>
          val catalog = new graft.core.Catalog(spark, root)
          val versions =
            try schemaVersions(catalog, node, pipeline)
            catch {
              case e: Exception =>
                System.err.println(s"error: cannot read meta_schemas at $root: ${e.getMessage}")
                return 1
            }
          if (versions.isEmpty) {
            System.err.println(s"no schema history found for: $node")
            return 1
          }
          verb match {
            case "history" => schemaHistory(node, versions, limit)
            case "diff" => schemaDiff(node, versions, fromV, toV)
            case _ => schemaDrift(spark, catalog, node, pipeline, versions)
          }
        }
      case _ =>
        System.err.println(s"error: schema needs <root> <history|diff|drift> <node>\n$usage")
        2
    }
  }

  private def schemaHistory(node: String, versions: Seq[SchemaVersion], limit: Int): Int = {
    println(s"Schema history: $node (${versions.size} versions)")
    println(f"${"version"}%-9s ${"captured_at"}%-24s changes")
    val shown = versions.takeRight(limit)
    shown.foreach { v =>
      val changes =
        if (v.version == 1) s"initial schema (${v.columns.size} columns)"
        else {
          val prev = versions(v.version - 2).columnMap
          val (added, removed, retyped) = schemaChanges(prev, v.columnMap)
          def clip(prefix: String, xs: Seq[String]) =
            if (xs.isEmpty) None
            else Some(prefix + xs.take(3).mkString(",") + (if (xs.size > 3) "..." else ""))
          Seq(clip("+", added), clip("-", removed), clip("~", retyped))
            .flatten.mkString("; ")
        }
      println(f"v${v.version}%-8s ${v.capturedAt.toString.take(23)}%-24s $changes")
    }
    0
  }

  private def schemaDiff(node: String, versions: Seq[SchemaVersion],
                         fromV: Option[Int], toV: Option[Int]): Int = {
    if (versions.size < 2 && (fromV.isEmpty || toV.isEmpty)) {
      System.err.println("need at least 2 versions to compare"); return 1
    }
    val to = toV.getOrElse(versions.size)
    val from = fromV.getOrElse(to - 1)
    def find(v: Int): Option[SchemaVersion] = versions.find(_.version == v)
    (find(from), find(to)) match {
      case (Some(f), Some(t)) =>
        println(s"Schema diff: $node v$from -> v$to")
        val fm = f.columnMap
        val tm = t.columnMap
        // preserve the TO version's column order, then removed columns
        t.columns.foreach { case (name, typ) =>
          fm.get(name) match {
            case None => println(s"+ $name $typ")
            case Some(old) if old != typ => println(s"~ $name $old -> $typ")
            case Some(_) => println(s"  $name $typ")
          }
        }
        f.columns.filterNot(c => tm.contains(c._1)).foreach { case (name, typ) =>
          println(s"- $name $typ")
        }
        0
      case _ =>
        val missing = Seq(from -> find(from), to -> find(to))
          .collect { case (v, None) => s"v$v" }.mkString(", ")
        System.err.println(s"error: $missing not found (have v1..v${versions.size})")
        1
    }
  }

  /** Compare the latest RECORDED schema against the LIVE sink the node
    * last wrote (meta_outputs path): exit 0 clean, 1 on drift — usable
    * as a CI gate before rerunning a pipeline over an externally-managed
    * table. */
  private def schemaDrift(spark: SparkSession, catalog: graft.core.Catalog,
                          node: String, pipeline: Option[String],
                          versions: Seq[SchemaVersion]): Int = {
    import org.apache.spark.sql.functions.col
    val latest = versions.last
    val pathRow =
      try {
        var df = catalog.table("meta_outputs").filter(col("node") === node)
        pipeline.foreach(p => df = df.filter(col("pipeline") === p))
        df.orderBy(col("recorded_at").desc).limit(1)
          .select("path").collect().headOption.map(_.getString(0))
      } catch { case _: Exception => None }
    pathRow match {
      case None =>
        System.err.println(s"error: no recorded sink path for $node (meta_outputs)")
        1
      case Some(path) =>
        val live =
          try spark.read.parquet(path).schema.fields.toSeq
            .map(f => f.name -> f.dataType.sql)
          catch {
            case e: Exception =>
              System.err.println(s"error: cannot read live sink $path: ${e.getMessage}")
              return 1
          }
        val liveMap = live.toMap
        val (added, removed, retyped) = schemaChanges(latest.columnMap, liveMap)
        if (added.isEmpty && removed.isEmpty && retyped.isEmpty) {
          println(s"$node: live sink matches recorded v${latest.version} (${latest.columns.size} columns)")
          0
        } else {
          println(s"$node: DRIFT vs recorded v${latest.version} at $path")
          added.foreach(c => println(s"+ $c ${liveMap(c)}"))
          removed.foreach(c => println(s"- $c ${latest.columnMap(c)}"))
          retyped.foreach(c => println(s"~ $c ${latest.columnMap(c)} -> ${liveMap(c)}"))
          1
        }
    }
  }

  /** Replicate meta tables between catalog roots (reference:
    * odibi/catalog_sync.py CatalogSyncer — dashboards / cross-region
    * copies). Exit 1 when any table fails; missing tables in a fresh
    * source are reported, not fatal. */
  private def syncCommand(args: List[String]): Int = {
    var pos = List.empty[String]
    var tables: Option[Seq[String]] = None
    var mode = "incremental"
    var rest = args
    while (rest.nonEmpty) rest match {
      case "--tables" :: v :: t => tables = Some(v.split(",").toSeq.map(_.trim)); rest = t
      case "--mode" :: v :: t => mode = v; rest = t
      case v :: t if !v.startsWith("-") => pos = pos :+ v; rest = t
      case other :: _ =>
        System.err.println(s"unexpected argument $other"); return 2
    }
    if (!Set("incremental", "full")(mode)) {
      System.err.println(s"error: --mode must be incremental or full, got $mode")
      return 2
    }
    pos match {
      case src :: tgt :: Nil => withSpark { spark =>
        val results = graft.core.CatalogSync.sync(spark, src, tgt,
          tables.getOrElse(graft.core.CatalogSync.DefaultTables), mode)
        results.foreach { r =>
          r.error match {
            case None => println(f"[ ok ] ${r.table}%-22s ${r.rows}%8d rows (${r.mode})")
            case Some(e) => println(f"[fail] ${r.table}%-22s $e")
          }
        }
        val failed = results.count(!_.success)
        println(s"synced ${results.count(_.success)}/${results.size} tables" +
          (if (failed > 0) s", $failed failed" else ""))
        if (failed > 0) 1 else 0
      }
      case _ =>
        System.err.println(s"error: sync needs <sourceRoot> <targetRoot>\n$usage")
        2
    }
  }

  // ------------------------------------------------------------------
  // secrets: environment/placeholder hygiene for a config (reference:
  // odibi/cli/secrets.py — `init` emits a .env.template listing every
  // ${VAR} the config uses; `validate` checks each resolves from
  // --set / process env / the .env file and exits 1 listing the gaps).
  // Key Vault checking is env-blocked here and intentionally absent.
  // ------------------------------------------------------------------
  private def secretsCommand(args: List[String]): Int = {
    var verb: Option[String] = None
    var config: Option[String] = None
    var out: Option[String] = None
    var force = false
    var subs = Map.empty[String, String]
    var rest = args
    while (rest.nonEmpty) rest match {
      case "-o" :: v :: t => out = Some(v); rest = t
      case "--force" :: t => force = true; rest = t
      case "--set" :: kv :: t => kv.split("=", 2) match {
        case Array(k, v) => subs += (k -> v); rest = t
        case _ => System.err.println(s"--set needs K=V, got $kv"); return 2
      }
      case v :: t if verb.isEmpty && Set("init", "validate")(v) =>
        verb = Some(v); rest = t
      case v :: t if verb.nonEmpty && config.isEmpty && !v.startsWith("-") =>
        config = Some(v); rest = t
      case other :: _ =>
        System.err.println(s"unexpected argument $other"); return 2
    }
    (verb, config) match {
      case (Some(v), Some(cfg)) =>
        val p = java.nio.file.Paths.get(cfg)
        if (!java.nio.file.Files.isReadable(p)) {
          System.err.println(s"error: cannot read $cfg"); return 2
        }
        val text = java.nio.file.Files.readString(p)
        val vars = graft.core.Secrets.placeholders(text).toSeq.sorted
        val baseDir = Option(p.getParent).map(_.toString)
        v match {
          case "init" =>
            if (vars.isEmpty) { println(s"no placeholders found in $cfg"); return 0 }
            val target = java.nio.file.Paths.get(out.getOrElse(
              p.resolveSibling(".env.template").toString))
            if (java.nio.file.Files.exists(target) && !force) {
              System.err.println(s"error: $target exists (use --force to overwrite)")
              return 1
            }
            java.nio.file.Files.writeString(target,
              s"# graft environment template\n# generated from $cfg\n\n" +
                vars.map(_ + "=").mkString("", "\n", "\n"))
            println(s"wrote $target (${vars.size} variables)")
            0
          case _ =>
            val missing = graft.core.Secrets.missing(text, subs, baseDir)
            if (missing.isEmpty) {
              println(s"OK: all ${vars.size} placeholders in $cfg resolve " +
                "(--set / environment / .env)")
              0
            } else {
              System.err.println(s"MISSING ${missing.size} of ${vars.size}:")
              missing.foreach(m => System.err.println(s"  - $m"))
              System.err.println("set them in the environment or a .env " +
                "beside the config, or pass --set")
              1
            }
        }
      case _ =>
        System.err.println(s"error: secrets needs <init|validate> <yaml>\n$usage")
        2
    }
  }

  // ------------------------------------------------------------------
  // story: terminal viewer over a `graft.Run --story DIR` output
  // directory (reference: odibi/cli/story.py:1-535 — print the run
  // summary, point at the HTML site). No Spark: the story JSON written
  // by core.Story is self-contained, and JSON is a YAML subset, so the
  // bundled snakeyaml parses it directly.
  // ------------------------------------------------------------------
  private def storyCommand(args: List[String]): Int = {
    var root: Option[String] = None
    var pipeline: Option[String] = None
    var run: Option[String] = None
    var rest = args
    while (rest.nonEmpty) rest match {
      case "--pipeline" :: v :: t => pipeline = Some(v); rest = t
      case "--run" :: v :: t => run = Some(v); rest = t
      case v :: t if root.isEmpty && !v.startsWith("-") => root = Some(v); rest = t
      case other :: _ =>
        System.err.println(s"unexpected argument $other"); return 2
    }
    root match {
      case None => System.err.println(usage); 2
      case Some(r) =>
        val dir = java.nio.file.Paths.get(r)
        if (!java.nio.file.Files.isDirectory(dir)) {
          System.err.println(s"error: not a directory: $r"); return 1
        }
        val storyFiles = {
          val s = java.nio.file.Files.list(dir)
          try {
            val b = scala.collection.mutable.Buffer.empty[java.nio.file.Path]
            s.forEach(p => b += p)
            b.toSeq
          } finally s.close()
        }.filter(_.getFileName.toString.endsWith("_story.json")).sortBy(_.toString)
        val parsed = storyFiles.flatMap { p =>
          try {
            new org.yaml.snakeyaml.Yaml()
              .load[Any](java.nio.file.Files.readString(p)) match {
                case m: java.util.Map[_, _] =>
                  Some(p -> m.asInstanceOf[java.util.Map[String, Any]])
                case _ => None
              }
          } catch {
            case e: Exception =>
              System.err.println(s"warning: cannot parse $p: ${e.getMessage}")
              None
          }
        }
        val chosen = parsed
          .filter { case (_, m) =>
            pipeline.forall(_ == String.valueOf(m.get("pipeline"))) }
          .filter { case (_, m) =>
            run.forall(_ == String.valueOf(m.get("run_id"))) }
        if (chosen.isEmpty) {
          val known = parsed.map { case (_, m) =>
            s"${m.get("pipeline")} (run ${m.get("run_id")})" }
          System.err.println(
            if (parsed.isEmpty) s"no *_story.json found in $r"
            else s"no story matches the filter; have: ${known.mkString(", ")}")
          return 1
        }
        chosen.foreach { case (path, m) =>
          printStory(path, m)
          if (chosen.size > 1) println()
        }
        0
    }
  }

  private def printStory(path: java.nio.file.Path,
                         m: java.util.Map[String, Any]): Unit = {
    val pipeline = String.valueOf(m.get("pipeline"))
    val nFailed = String.valueOf(m.get("n_failed"))
    println(s"Pipeline: $pipeline")
    println(s"Run:      ${m.get("run_id")}  (${m.get("wall_ms")} ms, " +
      s"${m.get("n_nodes")} nodes, $nFailed failed)")
    m.get("nodes") match {
      case l: java.util.List[_] =>
        println(f"  ${"node"}%-28s ${"status"}%-9s ${"ms"}%8s ${"rows"}%10s  detail")
        l.forEach {
          case n: java.util.Map[_, _] =>
            val nm = n.asInstanceOf[java.util.Map[String, Any]]
            val detail = Option(nm.get("error")).map(String.valueOf)
              .orElse(Option(nm.get("skip_reason")).map(r => s"skipped: $r"))
              .getOrElse("")
            val rows = Option(nm.get("rows_written"))
              .map(String.valueOf).getOrElse("-")
            println(f"  ${String.valueOf(nm.get("name"))}%-28s ${
              String.valueOf(nm.get("status"))}%-9s ${
              String.valueOf(nm.get("duration_ms"))}%8s $rows%10s  ${detail.take(80)}")
          case _ => ()
        }
      case _ => ()
    }
    // point at the HTML artifacts when the site was rendered alongside
    val base = path.getFileName.toString.stripSuffix("_story.json")
    Seq(s"${base}_story.html" -> "site", s"${base}_runs.html" -> "run history")
      .foreach { case (f, label) =>
        val p = path.resolveSibling(f)
        if (java.nio.file.Files.exists(p)) println(s"  $label: $p")
      }
  }

  /** Register pipeline + node definitions into the system catalog
    * (reference `odibi deploy`, cli/deploy.py:10-69: validate config,
    * bootstrap the catalog, register_pipeline + register_node per
    * pipeline). Drift against a previously deployed version is reported
    * before re-registering — the reference's configDrift baseline. */
  private def deployCommand(args: List[String]): Int = {
    var config: Option[String] = None
    var subs = Map.empty[String, String]
    var rest = args
    while (rest.nonEmpty) rest match {
      case "--set" :: kv :: t => kv.split("=", 2) match {
        case Array(k, v) => subs += (k -> v); rest = t
        case _ => System.err.println(s"--set needs K=V, got $kv"); return 2
      }
      case v :: t if config.isEmpty && !v.startsWith("-") => config = Some(v); rest = t
      case other :: _ => System.err.println(s"unexpected argument $other"); return 2
    }
    val path = config.getOrElse {
      System.err.println(s"error: deploy needs <yaml>\n$usage"); return 2
    }
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isReadable(p)) {
      System.err.println(s"error: cannot read $path"); return 2
    }
    val baseDir = Option(p.getParent).map(_.toString)
    val text = graft.core.Secrets.substitute(
      java.nio.file.Files.readString(p), subs, baseDir)
    val project =
      try {
        try graft.core.YamlConfig.loadProject(text, baseDir)
        catch {
          case _: IllegalArgumentException =>
            val cfg = graft.core.YamlConfig.loadPipeline(text, baseDir)
            graft.core.YamlConfig.ProjectConfig(cfg.name, Seq(cfg))
        }
      } catch {
        case e: Exception =>
          System.err.println(s"error: cannot load $path: ${e.getMessage}")
          return 1
      }
    val catalogRoot = project.pipelines
      .flatMap(_.nodes.flatMap(_.catalogRoot)).headOption.getOrElse {
        System.err.println(
          "error: system catalog not configured (set catalog_root); cannot deploy")
        return 1
      }
    withSpark { spark =>
      val catalog = new graft.core.Catalog(spark, catalogRoot)
      val totalNodes = project.pipelines.map(_.nodes.size).sum
      println(s"deploying ${project.pipelines.size} pipelines, " +
        s"$totalNodes nodes to $catalogRoot")
      project.pipelines.zipWithIndex.foreach { case (pl, i) =>
        catalog.configDrift(pl).foreach(deployed => println(
          s"  note: ${pl.name} drifted from deployed version $deployed — re-registering"))
        catalog.registerPipeline(pl)
        println(s"  [${i + 1}/${project.pipelines.size}] registered ${pl.name} " +
          s"(${pl.nodes.size} nodes)")
      }
      println("deployment complete — system catalog is up to date")
      0
    }
  }

  // ------------------------------------------------------------------
  // templates: YAML scaffolds + editor JSON schema (reference:
  // odibi/cli/templates.py — list/show/transformer/schema, generated
  // from the live models so they cannot drift). No Spark.
  // ------------------------------------------------------------------
  private def templatesCommand(args: List[String]): Int = args match {
    case "list" :: Nil =>
      val t = graft.core.Introspect.nodeTemplates
      println(s"node templates (${t.size}):  [graft.Tools templates show <name>]")
      t.keys.toSeq.sorted.foreach(n => println(s"  $n"))
      println()
      graft.core.Introspect.inventory().toSeq.sortBy(_._1).foreach {
        case (kind, names) => println(s"$kind (${names.size}): ${names.mkString(", ")}")
      }
      println("\neditor schema:  graft.Tools templates schema --out graft.schema.json")
      0
    case "show" :: name :: Nil =>
      graft.core.Introspect.nodeTemplates.get(name) match {
        case Some(yaml) => print(yaml); 0
        case None =>
          System.err.println(s"unknown template '$name'; have: " +
            graft.core.Introspect.nodeTemplates.keys.toSeq.sorted.mkString(", "))
          1
      }
    case "transformer" :: name :: Nil =>
      graft.core.StandardTransformers.registerAll
      val inPatterns = graft.patterns.PatternRegistry.names.contains(name)
      val inTransformers = graft.core.TransformerRegistry.names.contains(name)
      if (!inPatterns && !inTransformers) {
        val near = (graft.patterns.PatternRegistry.names ++
          graft.core.TransformerRegistry.names)
          .filter(n => n.contains(name) || name.contains(n)).sorted
        System.err.println(s"unknown transformer '$name'" +
          (if (near.nonEmpty) s"; did you mean: ${near.mkString(", ")}" else ""))
        return 1
      }
      if (inPatterns) {
        println(s"# $name — composite pattern (node-level transformer)")
        println(s"- name: my_node\n  transformer: $name\n  params: { }")
      } else {
        println(s"# $name — step transformer")
        println(s"steps:\n  - function: $name\n    params: { }")
      }
      println("\n# parameter reference: docs/operators.md (graft.core.Introspect)")
      0
    case "schema" :: rest =>
      var out: Option[String] = None
      var r = rest
      while (r.nonEmpty) r match {
        case "--out" :: v :: t => out = Some(v); r = t
        case other :: _ =>
          System.err.println(s"unexpected argument $other"); return 2
      }
      val schema = graft.core.Introspect.jsonSchema()
      out match {
        case None => print(schema)
        case Some(f) =>
          val p = java.nio.file.Paths.get(f)
          Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
          java.nio.file.Files.writeString(p, schema)
          println(s"wrote $f — map it in VS Code settings: " +
            """"yaml.schemas": { "graft.schema.json": ["*.yaml"] }""")
      }
      0
    case _ =>
      System.err.println(
        s"error: templates needs list | show <name> | transformer <name> | schema\n$usage")
      2
  }

  // ------------------------------------------------------------------
  // system: materialize the derived health tables (reference:
  // odibi/cli/system.py rebuild-summaries — recompute meta_daily_stats /
  // meta_pipeline_health / meta_sla_status from the fact tables).
  // Exactly-once per (table, run): the DerivedUpdater claim guard skips
  // tables already rebuilt for the latest recorded run, so a scheduler
  // can invoke this after every run without duplicate work; publishes
  // are atomic snapshots. `system sync` lives under `graft.Tools sync`.
  // ------------------------------------------------------------------
  private def systemCommand(args: List[String]): Int = args match {
    case "sync" :: _ =>
      System.err.println("error: catalog sync is `graft.Tools sync <src> <tgt>`")
      2
    case "rebuild-summaries" :: rest =>
      var root: Option[String] = None
      var runId: Option[String] = None
      var sla = Map.empty[String, Double]
      var defaultSla = 24.0
      var r = rest
      while (r.nonEmpty) r match {
        case "--run-id" :: v :: t => runId = Some(v); r = t
        case "--default-sla" :: v :: t => defaultSla = v.toDouble; r = t
        case "--sla" :: kv :: t => kv.split("=", 2) match {
          case Array(k, v) => sla += (k -> v.toDouble); r = t
          case _ => System.err.println(s"--sla needs PIPELINE=HOURS, got $kv"); return 2
        }
        case v :: t if root.isEmpty && !v.startsWith("-") => root = Some(v); r = t
        case other :: _ =>
          System.err.println(s"unexpected argument $other"); return 2
      }
      root match {
        case None =>
          System.err.println(s"error: rebuild-summaries needs <root>\n$usage"); 2
        case Some(rt) => withSpark { spark =>
          import org.apache.spark.sql.functions.col
          val catalog = new graft.core.Catalog(spark, rt)
          val latestRun =
            try catalog.table("meta_runs").orderBy(col("recorded_at").desc)
              .select("run_id").limit(1).collect().headOption.map(_.getString(0))
            catch { case _: Exception => None }
          val rid = runId.orElse(latestRun).getOrElse {
            System.err.println(s"error: no runs recorded at $rt (meta_runs is empty)")
            return 1
          }
          val du = new graft.core.DerivedUpdater(spark, rt)
          val token = rid.replaceAll("[^A-Za-z0-9._-]", "_")
          val jobs: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
            "meta_daily_stats" -> (() => catalog.dailyStats),
            "meta_pipeline_health" -> (() => catalog.pipelineHealth),
            "meta_sla_status" -> (() => catalog.slaStatus(sla, defaultSla)),
            "meta_node_hotspots" -> (() => catalog.nodeHotspots))
          var failed = 0
          jobs.foreach { case (table, mk) =>
            try {
              val ran = du.applyOnce(table, rid) {
                graft.core.AtomicParquet.overwrite(mk(), s"$rt/$table", token)
              }
              println(if (ran) s"[built] $table (run $rid)"
                      else s"[skip ] $table — already rebuilt for run $rid")
            } catch {
              case e: Exception =>
                println(s"[fail ] $table — ${e.getMessage}")
                failed += 1
            }
          }
          if (failed > 0) 1 else 0
        }
      }
    case _ =>
      System.err.println(s"error: system needs rebuild-summaries <root>\n$usage")
      2
  }

  /** Render the static observability site (reference: odibi/ui/app.py's
    * FastAPI dashboard — its server deps are env-blocked; the static
    * render serves the same three views from any file host). */
  // ------------------------------------------------------------------
  // docs: regenerate the three generated reference files from the live
  // registries (introspect.py generate_docs). No Spark; the generated
  // files can never drift from the registries because this is the only
  // way they are produced.
  // ------------------------------------------------------------------
  private def docsCommand(args: List[String]): Int = {
    var out = "docs"
    var r = args
    while (r.nonEmpty) r match {
      case "--out" :: v :: t => out = v; r = t
      case other :: _ =>
        System.err.println(s"unexpected argument $other"); return 2
    }
    val dir = java.nio.file.Paths.get(out)
    java.nio.file.Files.createDirectories(dir)
    graft.core.Introspect.writeOperatorReference(
      dir.resolve("operators.md").toString)
    java.nio.file.Files.writeString(
      dir.resolve("yaml_schema.md"), graft.core.Introspect.yamlSchema())
    java.nio.file.Files.writeString(
      dir.resolve("graft.schema.json"), graft.core.Introspect.jsonSchema())
    println(s"wrote operators.md, yaml_schema.md, graft.schema.json under $dir")
    0
  }

  private def uiCommand(args: List[String]): Int = {
    var root: Option[String] = None
    var out: Option[String] = None
    var story: Option[String] = None
    var config: Option[String] = None
    var sla = Map.empty[String, Double]
    var defaultSla = 24.0
    var watch = false
    var serve = false
    var port = 0
    var maxSeconds = -1L
    var intervalMs = 2000L
    var maxRenders = Int.MaxValue
    var rest = args
    while (rest.nonEmpty) rest match {
      case "--out" :: v :: t => out = Some(v); rest = t
      case "--story" :: v :: t => story = Some(v); rest = t
      case "--config" :: v :: t => config = Some(v); rest = t
      case "--default-sla" :: v :: t => defaultSla = v.toDouble; rest = t
      case "--watch" :: t => watch = true; rest = t
      case "--serve" :: t => serve = true; rest = t
      case "--port" :: v :: t => port = v.toInt; rest = t
      case "--max-seconds" :: v :: t => maxSeconds = v.toLong; rest = t
      case "--interval" :: v :: t =>
        intervalMs = (v.toDouble * 1000).toLong; rest = t
      case "--max-renders" :: v :: t => maxRenders = v.toInt; rest = t
      case "--sla" :: kv :: t => kv.split("=", 2) match {
        case Array(k, v) => sla += (k -> v.toDouble); rest = t
        case _ => System.err.println(s"--sla needs PIPELINE=HOURS, got $kv"); return 2
      }
      case v :: t if root.isEmpty && !v.startsWith("-") => root = Some(v); rest = t
      case other :: _ =>
        System.err.println(s"unexpected argument $other"); return 2
    }
    if (serve) return root match {
      case Some(rt) => withSpark { spark =>
        // live server mode (the FastAPI-UI shape): embedded JDK HTTP
        // listener, auto-refreshing pages + JSON endpoints; no --out
        val s = graft.core.DashboardServer.start(spark, rt, port, sla,
          defaultSla, story, config)
        println(s"serving dashboard at ${s.url} (ctrl-c to stop)")
        try {
          if (maxSeconds >= 0) Thread.sleep(maxSeconds * 1000)
          else while (true) Thread.sleep(60000)
        } catch { case _: InterruptedException => () }
        finally s.stop()
        0
      }
      case None =>
        System.err.println(s"error: ui --serve needs <root>\n$usage"); 2
    }
    (root, out) match {
      case (Some(rt), Some(dir)) => withSpark { spark =>
        def render(): String =
          graft.core.Dashboard.write(spark, rt, dir, sla, defaultSla, story, config)
        if (!watch) {
          println(s"wrote ${render()}")
          0
        } else {
          // live-reload mode: re-render the static site whenever the
          // catalog's meta tables change (the FastAPI-UI gap closer:
          // same views, no server dependency). Change detection = the
          // (file count, max mtime) fingerprint over meta_* dirs via the
          // Hadoop FS API, so it works on object stores too.
          def fingerprint(): Long =
            graft.core.DashboardServer.catalogFingerprint(spark, rt)
          var last = 0L
          var renders = 0
          while (renders < maxRenders) {
            val fp = fingerprint()
            if (fp != last) {
              last = fp
              renders += 1
              println(s"wrote ${render()} (render $renders)")
            }
            if (renders < maxRenders) Thread.sleep(intervalMs)
          }
          0
        }
      }
      case _ =>
        System.err.println(s"error: ui needs <root> --out DIR\n$usage")
        2
    }
  }

  private def withSpark[A](f: SparkSession => A): A = {
    val live = SparkSession.getDefaultSession.orElse(SparkSession.getActiveSession)
    val spark = live.getOrElse {
      val s = SparkSession.builder().master("local[2]")
        .appName("graft-tools")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false").getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    try f(spark) finally if (live.isEmpty) spark.stop()
  }

  private def jsonLines(df: org.apache.spark.sql.DataFrame, n: Int): Unit =
    df.toJSON.take(n).foreach(println)

  private def catalogCommand(args: List[String]): Int = {
    var pos = List.empty[String]
    var pipeline: Option[String] = None
    var n = 100
    var rest = args
    while (rest.nonEmpty) rest match {
      case "--pipeline" :: v :: t => pipeline = Some(v); rest = t
      case "-n" :: v :: t => n = v.toInt; rest = t
      case v :: t => pos = pos :+ v; rest = t
    }
    pos match {
      case root :: "--tables" :: Nil => withSpark { spark =>
        jsonLines(new graft.core.Catalog(spark, root).tablesRegistry, 100)
        0
      }
      case root :: table :: Nil => withSpark { spark =>
        try {
          val catalog = new graft.core.Catalog(spark, root)
          // derived views resolve by name too, so every entry in
          // `--tables` is dumpable through the same verb
          var df = table match {
            case "meta_tables" => catalog.tablesRegistry
            case "meta_daily_stats" => catalog.dailyStats
            case "meta_pipeline_health" => catalog.pipelineHealth
            case "meta_sla_status" => catalog.slaStatus(Map.empty)
            case t => catalog.table(t)
          }
          pipeline.foreach(p =>
            df = df.filter(org.apache.spark.sql.functions.col("pipeline") === p))
          jsonLines(df, n)
          0
        } catch {
          case e: Exception =>
            System.err.println(s"error: cannot read $table at $root: ${e.getMessage}")
            1
        }
      }
      case _ => System.err.println(usage); 2
    }
  }

  private def lineageCommand(args: List[String]): Int = {
    var root: Option[String] = None
    var pipeline: Option[String] = None
    var node: Option[String] = None
    var rest = args
    while (rest.nonEmpty) rest match {
      case "--pipeline" :: v :: t => pipeline = Some(v); rest = t
      case "--node" :: v :: t => node = Some(v); rest = t
      case v :: t if root.isEmpty => root = Some(v); rest = t
      case other :: _ =>
        System.err.println(s"unexpected argument $other"); return 2
    }
    root match {
      case None => System.err.println(usage); 2
      case Some(r) => withSpark { spark =>
        import org.apache.spark.sql.functions.col
        val catalog = new graft.core.Catalog(spark, r)
        try {
          // a meta table a run never wrote is absent, not an error
          def scoped(t: String): Option[org.apache.spark.sql.DataFrame] =
            catalog.probe(t) { df0 =>
              var df = df0
              pipeline.foreach(p => df = df.filter(col("pipeline") === p))
              node.foreach(nd => df = df.filter(col("node") === nd))
              Some(df)
            }
          val edges = scoped("meta_lineage").toSeq.flatMap(_
            .select("pipeline", "node", "input").distinct()
            .orderBy("pipeline", "node", "input").collect())
          if (edges.isEmpty) { System.err.println("no lineage recorded"); return 1 }
          edges.foreach(e =>
            println(s"${e.getString(0)}: ${e.getString(2)} -> ${e.getString(1)}"))
          // column lineage is optional detail — present only with --node
          if (node.isDefined)
            try scoped("meta_column_lineage").toSeq.flatMap(_
              .select("column", "source").distinct()
              .orderBy("column", "source").collect())
              .foreach(c => println(s"  ${c.getString(1)} => ${c.getString(0)}"))
            catch { case _: Exception => () }
          0
        } catch {
          case e: Exception =>
            System.err.println(s"error: ${e.getMessage}")
            1
        }
      }
    }
  }
}
