package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/**
 * The ONE primitive every log-structured table commit needs: atomically
 * publish a fully-written payload at a target path IFF nothing is there
 * yet ("put-if-absent"). Its single caller is the one optimistic-commit
 * loop, [[OptimisticCommit.run]]: every Delta and Iceberg commit claims
 * its version there, through its format's publish function — Delta's
 * `_delta_log/%020d.json` ([[DeltaWriter.publish]]) and Iceberg's
 * `metadata/vN.metadata.json` ([[IcebergSource.publishMeta]]).
 *
 * The primitive is STORE-dependent, which is why it is pluggable (the
 * same seam delta-spark's LogStore API exposes — see the public delta.io
 * LogStore docs):
 *
 *  - local `file://` — POSIX rename(2) silently REPLACES an existing
 *    destination, so rename-if-absent is a lost-commit race; link(2)
 *    fails with EEXIST and is the atomic claim ([[LinkCommitStore]]).
 *  - HDFS / ABFS / other rename-consistent stores — rename refuses an
 *    existing destination atomically ([[RenameCommitStore]]).
 *  - stores with a CONDITIONAL PUT (S3 `If-None-Match`, GCS
 *    `ifGenerationMatch=0`) surfaced by the connector as an atomic
 *    `create(path, overwrite = false)` — [[CreateIfAbsentCommitStore]].
 *  - stores with NEITHER primitive (S3 via an older connector) — commits
 *    must serialize through an EXTERNAL consistent store
 *    ([[LockCommitStore]], the S3+DynamoDB coordination pattern), or the
 *    writer must REFUSE loudly ([[RefusingCommitStore]]) rather than
 *    corrupt the table with a silent last-writer-wins.
 *
 * Resolution ([[CommitStore.forFs]]) keys on the filesystem scheme and
 * two Hadoop conf knobs:
 *   `graft.commit.store`    = link | rename | create | lock | refuse
 *                             (explicit override, highest precedence)
 *   `graft.commit.lock.dir` = directory on a CONSISTENT filesystem used
 *                             by [[LockCommitStore]] for lock files
 * so a deployment turns an unsafe default into a coordinated one with
 * configuration only — no code change, and never silent corruption.
 */
trait CommitStore {
  /**
   * Publish `payload` at `target` iff `target` is absent. True = this
   * writer's payload is durably and completely visible at `target`;
   * false = another writer claimed `target` first (the caller rebases
   * and retries at the next version). Must never tear: readers see
   * either nothing or the full payload.
   */
  def putIfAbsent(f: FileSystem, target: Path, payload: Array[Byte],
                  nonce: String): Boolean
}

object CommitStore {

  /** A filesystem's scheme, defensively: `FileSystem.getScheme`'s BASE
    * implementation throws UnsupportedOperationException ("Not
    * implemented by the X FileSystem"), so a third-party FS that never
    * overrode it must fall back to the scheme of the FS's own URI —
    * which every initialized FileSystem carries. Empty string when even
    * that is absent (routes to the loud-refusal arm, never a guess). */
  private[sources] def schemeOf(f: FileSystem): String =
    scala.util.Try(f.getScheme).toOption
      .orElse(Option(f.getUri).flatMap(u => Option(u.getScheme)))
      .getOrElse("")

  /** Hidden (dot-prefixed, listing-excluded) sibling temp for staged
    * payloads. */
  private[sources] def tempFor(target: Path, nonce: String): Path =
    new Path(target.getParent, s".tmp_${nonce}_${target.getName}")

  private[sources] def writeTemp(f: FileSystem, target: Path,
                                 payload: Array[Byte], nonce: String): Path = {
    val tmp = tempFor(target, nonce)
    f.mkdirs(target.getParent)
    val out = f.create(tmp, true)
    try out.write(payload) finally out.close()
    tmp
  }

  /** Schemes whose FileSystem.rename atomically refuses an existing
    * destination (HDFS semantics). */
  private val renameConsistent =
    Set("hdfs", "viewfs", "abfs", "abfss", "wasb", "wasbs", "o3fs", "ofs")

  /** Object-store schemes where rename is copy+delete (non-atomic,
    * last-writer-wins) — NEVER safe for a version claim. */
  private val nonAtomicRename = Set("s3", "s3a", "s3n", "gs", "oss", "cos", "swift")

  /**
   * The CommitStore for a filesystem, from its scheme + conf. Unknown
   * schemes resolve to a loud refusal, not a guess: a wrong guess is
   * silent table corruption under concurrency.
   */
  def forFs(f: FileSystem): CommitStore = {
    val conf = f.getConf
    val scheme = schemeOf(f)
    def lockDir = Option(conf.get("graft.commit.lock.dir")).map(_.trim)
      .filter(_.nonEmpty)
    def locked(inner: CommitStore): CommitStore = lockDir match {
      case Some(d) => new LockCommitStore(new Path(d), inner)
      case None => throw new IllegalStateException(
        "graft.commit.store=lock requires graft.commit.lock.dir")
    }
    Option(conf.get("graft.commit.store")).map(_.trim.toLowerCase) match {
      case Some("link") =>
        // link(2) runs through java.nio against the LOCAL interpretation
        // of the path — on an object store the ensuing FileSystemException
        // would silently fall back to exists+rename, the exact non-atomic
        // last-writer-wins the resolver otherwise refuses
        if (scheme != "file") throw new IllegalArgumentException(
          s"graft.commit.store=link requires a local file:// filesystem " +
            s"(got scheme '$scheme'): hard links are a local-FS " +
            "primitive and the rename fallback is not atomic there")
        LinkCommitStore
      case Some("rename") => RenameCommitStore
      case Some("create") => CreateIfAbsentCommitStore
      case Some("lock") => locked(OverwriteWithinLock)
      case Some("refuse") => new RefusingCommitStore(scheme, "configured")
      case Some(other) => throw new IllegalArgumentException(
        s"unknown graft.commit.store '$other' (link|rename|create|lock|refuse)")
      case None => scheme match {
        case "file" => LinkCommitStore
        case s if renameConsistent(s) => RenameCommitStore
        case s if nonAtomicRename(s) =>
          if (lockDir.isDefined) locked(OverwriteWithinLock)
          else if (conf.getBoolean("graft.commit.conditional-put", false))
            CreateIfAbsentCommitStore
          else new RefusingCommitStore(s,
            "rename on this store is copy+delete (last-writer-wins)")
        case s => new RefusingCommitStore(s, "unrecognized filesystem scheme")
      }
    }
  }

  /** The scheme's NATIVE atomic primitive, ignoring overrides and lock
    * config — what [[LockCommitStore]] claims its lock files with (the
    * lock dir must not recursively resolve to another lock). */
  private[sources] def primitiveFor(f: FileSystem): Option[CommitStore] =
    schemeOf(f) match {
      case "file" => Some(LinkCommitStore)
      case s if renameConsistent(s) => Some(RenameCommitStore)
      case s if nonAtomicRename(s) &&
        f.getConf.getBoolean("graft.commit.conditional-put", false) =>
        Some(CreateIfAbsentCommitStore)
      case _ => None
    }
}

/**
 * Local-filesystem claim: write the payload to a hidden temp, then
 * link(2) it at the target — EEXIST loses the race; success publishes
 * the complete file in one shot. Falls back to rename-if-absent on
 * filesystems without hard links (FAT/SMB/FUSE mounts) — the narrower
 * pre-link behavior.
 */
object LinkCommitStore extends CommitStore {
  override def putIfAbsent(f: FileSystem, target: Path, payload: Array[Byte],
                           nonce: String): Boolean = {
    val tmp = CommitStore.writeTemp(f, target, payload, nonce)
    try {
      java.nio.file.Files.createLink(
        java.nio.file.Paths.get(target.toUri.getPath),
        java.nio.file.Paths.get(tmp.toUri.getPath))
      f.delete(tmp, false)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        f.delete(tmp, false); false // lost the race
      case _: UnsupportedOperationException | _: java.nio.file.FileSystemException |
           _: java.nio.file.InvalidPathException =>
        if (!f.exists(target) && f.rename(tmp, target)) true
        else { f.delete(tmp, false); false }
    }
  }
}

/** Rename-consistent claim (HDFS contract): rename refuses an existing
  * destination atomically, so temp + rename-if-absent is the commit. */
object RenameCommitStore extends CommitStore {
  override def putIfAbsent(f: FileSystem, target: Path, payload: Array[Byte],
                           nonce: String): Boolean = {
    val tmp = CommitStore.writeTemp(f, target, payload, nonce)
    if (!f.exists(target) && f.rename(tmp, target)) true
    else { f.delete(tmp, false); false }
  }
}

/**
 * Conditional-put claim: `create(target, overwrite = false)` where the
 * connector maps it to an atomic precondition (S3 `If-None-Match: *`,
 * GCS `ifGenerationMatch=0`). On such stores the object becomes visible
 * only when the PUT completes, so writing the payload directly through
 * the created stream cannot tear.
 */
object CreateIfAbsentCommitStore extends CommitStore {
  override def putIfAbsent(f: FileSystem, target: Path, payload: Array[Byte],
                           nonce: String): Boolean = {
    f.mkdirs(target.getParent)
    val out = try f.create(target, false) catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => return false
      case _: java.nio.file.FileAlreadyExistsException => return false
      case _: java.io.IOException if f.exists(target) => return false
    }
    try {
      out.write(payload); out.close()
      true
    } catch {
      // the mock/real conditional-put publishes at close: EEXIST there
      // is a cleanly lost race
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case _: java.nio.file.FileAlreadyExistsException => false
      case e: Throwable =>
        // the PUT errored mid-write. On a true conditional-put store
        // nothing landed; on a misconfigured store (explicit
        // graft.commit.store=create over immediate-visibility create)
        // OUR torn partial may now sit at the claim path. If the target
        // holds our COMPLETE payload the put actually landed — win;
        // otherwise fail LOUDLY (never 'false': a silent rebase past a
        // possibly-torn commit would poison every later replay).
        try out.close() catch { case _: Exception => () }
        val landed = try {
          val in = f.open(target)
          val got = try {
            val buf = new java.io.ByteArrayOutputStream()
            val tmp = new Array[Byte](64 * 1024)
            var n = in.read(tmp)
            while (n >= 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
            buf.toByteArray
          } finally in.close()
          java.util.Arrays.equals(got, payload)
        } catch { case _: Exception => false }
        if (landed) true
        else throw new IllegalStateException(
          s"conditional-put commit of $target failed mid-write and the " +
            "claim path does not hold this writer's payload — verify the " +
            "store's create(overwrite=false) is atomic-on-complete and " +
            "remove any torn object before retrying", e)
    }
  }
}

/** Inside a held lock no store primitive is needed: check-then-write is
  * race-free because the lock serializes committers. Used only as the
  * inner store of [[LockCommitStore]], which threads its ownership check
  * through `stillOwned` — re-verified immediately BEFORE the publish
  * rename, so a holder whose lease was broken while staging (a stall past
  * the TTL) reports a lost race instead of replace-renaming over the
  * breaker's just-published commit. */
private[graft] object OverwriteWithinLock extends CommitStore {
  override def putIfAbsent(f: FileSystem, target: Path, payload: Array[Byte],
                           nonce: String): Boolean =
    putIfAbsent(f, target, payload, nonce, () => true)

  def putIfAbsent(f: FileSystem, target: Path, payload: Array[Byte],
                  nonce: String, stillOwned: () => Boolean): Boolean = {
    if (f.exists(target)) return false
    val tmp = CommitStore.writeTemp(f, target, payload, nonce)
    // FENCE: the lease may have been broken while the temp was staged
    // (slow object-store write / GC pause past the TTL); on a
    // replace-style-rename store publishing now would silently clobber
    // the breaker's commit — a broken lease is a LOST RACE (nothing
    // published, the caller rebases and retries)
    if (!stillOwned()) { f.delete(tmp, false); return false }
    // rename for completeness-on-visibility; with the lock held a
    // replace-style rename cannot clobber a concurrent claim
    if (f.rename(tmp, target)) true else { f.delete(tmp, false); false }
  }
}

/**
 * Serialize claims through lock files on a SEPARATE, consistent
 * filesystem (the S3+DynamoDB coordination pattern: data and log live on
 * the eventually-unsafe store, the mutual exclusion lives somewhere with
 * an atomic primitive — a local/NFS disk, HDFS, or a conditional-put
 * bucket). The lock key is a digest of the target path, claimed via the
 * LOCK filesystem's own resolved CommitStore; the inner store then runs
 * its check-then-write race-free.
 *
 * Stale locks (a crashed committer) break after
 * `graft.commit.lock.timeout.ms` (default 300 s — generous on purpose:
 * the break exists for CRASHED holders, and a TTL short relative to GC
 * pauses or slow object-store writes risks breaking a live one) based on
 * the lock file's modification time; acquisition waits up to the same
 * bound then fails loudly naming the lock file.
 *
 * Fencing (an mtime lease cannot truly fence without a CAS store):
 * ownership is re-verified immediately BEFORE the inner claim — a lock
 * broken between acquire and publish is a lost race, not a double-hold —
 * and after a successful claim the target is READ BACK: a payload other
 * than this writer's means a lease-breaker's concurrent claim clobbered
 * it (possible only on replace-style-rename stores), reported as a lost
 * race. The residual window is a holder stalled INSIDE the inner claim
 * whose late rename lands after the breaker's read-back.
 */
final class LockCommitStore(lockDir: Path, inner: CommitStore) extends CommitStore {
  override def putIfAbsent(f: FileSystem, target: Path, payload: Array[Byte],
                           nonce: String): Boolean = {
    val lockFs = lockDir.getFileSystem(f.getConf)
    val timeoutMs = f.getConf.getLong("graft.commit.lock.timeout.ms", 300000L)
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(target.toString.getBytes("UTF-8"))
      .take(16).map("%02x".format(_)).mkString
    val lockFile = new Path(lockDir, s"$digest.lock")
    val lockStore = CommitStore.primitiveFor(lockFs).getOrElse(
      throw new IllegalStateException(
        s"graft.commit.lock.dir=$lockDir resolves to a filesystem without " +
          "an atomic claim primitive — locks there cannot serialize writers"))
    val token = s"$nonce ${System.currentTimeMillis()}\n".getBytes("UTF-8")
    // Right(Some(bytes)) = lock content; Right(None) = lock file ABSENT;
    // Left = transient read error — which must NOT be conflated with
    // absence (a writer that mis-reads its own fresh lock as lost would
    // orphan it and stall every writer for a full TTL)
    def lockContent(): Either[Throwable, Option[Array[Byte]]] =
      try {
        val in = lockFs.open(lockFile)
        try {
          val buf = new java.io.ByteArrayOutputStream()
          val tmp = new Array[Byte](4096)
          var n = in.read(tmp)
          while (n >= 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
          Right(Some(buf.toByteArray))
        } finally in.close()
      } catch {
        case _: java.io.FileNotFoundException => Right(None)
        case e: Throwable => Left(e)
      }
    def lockContentRetried(): Either[Throwable, Option[Array[Byte]]] = {
      var last: Either[Throwable, Option[Array[Byte]]] = lockContent()
      var tries = 0
      while (last.isLeft && tries < 3) {
        Thread.sleep(10); last = lockContent(); tries += 1
      }
      last
    }
    /** True iff the lock file still carries OUR token. On a persistent
      * READ error, trust prior evidence (the atomic primitive said we
      * won) rather than abandoning our own lock. */
    def ownsLock(): Boolean = lockContentRetried() match {
      case Right(Some(c)) => java.util.Arrays.equals(c, token)
      case Right(None) => false // broken + possibly re-claimed meanwhile
      case Left(_) => true
    }
    def releaseLock(): Unit = lockContentRetried() match {
      case Right(Some(c)) if java.util.Arrays.equals(c, token) =>
        lockFs.delete(lockFile, false)
      case _ => () // not ours / absent / unreadable: never delete another
                   // writer's lock; a leak is TTL-bounded, a wrong delete
                   // is a double-hold
    }
    /** Target content, read retried; None = absent or unreadable. */
    def targetContent(): Option[Array[Byte]] = {
      def once(): Option[Array[Byte]] =
        try {
          val in = f.open(target)
          try {
            val buf = new java.io.ByteArrayOutputStream()
            val tmp = new Array[Byte](64 * 1024)
            var n = in.read(tmp)
            while (n >= 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
            Some(buf.toByteArray)
          } finally in.close()
        } catch { case _: Exception => None }
      var got = once(); var tries = 0
      while (got.isEmpty && tries < 3) { Thread.sleep(10); got = once(); tries += 1 }
      got
    }
    val deadline = System.currentTimeMillis() + timeoutMs
    while (true) {
      var held = false
      while (!held) {
        held = lockStore.putIfAbsent(lockFs, lockFile, token, nonce)
        // ownership VERIFY: a racing stale-breaker may have deleted our
        // fresh lock and a third writer claimed it — holding is only
        // real if the file still carries OUR token.
        if (held) held = ownsLock()
        if (!held) {
          // break STALE locks (older than the TTL = crashed holder) — but
          // only when an immediate re-stat still shows the SAME stale
          // mtime, so a lock that was just re-claimed is never deleted
          // from a stale observation
          try {
            val st = lockFs.getFileStatus(lockFile)
            if (System.currentTimeMillis() - st.getModificationTime > timeoutMs) {
              val st2 = lockFs.getFileStatus(lockFile)
              if (st2.getModificationTime == st.getModificationTime)
                lockFs.delete(lockFile, false)
            }
          } catch { case _: java.io.FileNotFoundException => () }
          if (System.currentTimeMillis() > deadline)
            throw new IllegalStateException(
              s"could not acquire commit lock $lockFile within ${timeoutMs}ms — " +
                "another writer holds it (or raise graft.commit.lock.timeout.ms)")
          Thread.sleep(20L + scala.util.Random.nextInt(30))
        }
      }
      // FENCE (pre-publish): re-verify ownership immediately before the
      // inner claim — shrinks the break window from "the whole commit"
      // to verify→publish. A lock lost here (a TTL breaker raced us) is
      // a lost race to retry, never a double-hold.
      if (ownsLock()) {
        val result =
          try {
            val won = inner match {
              case o: OverwriteWithinLock.type =>
                o.putIfAbsent(f, target, payload, nonce, () => ownsLock())
              case other => other.putIfAbsent(f, target, payload, nonce)
            }
            if (!won) false
            else targetContent() match {
              // FENCE (post-publish): the claim path must hold THIS
              // writer's payload — anything else means a lease-breaker's
              // concurrent claim clobbered it (replace-style rename);
              // report a lost race so the caller rebases and retries.
              // Unreadable-after-success: trust the claim (transient).
              case Some(got) => java.util.Arrays.equals(got, payload)
              case None => true
            }
          } finally releaseLock()
        return result
      }
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(
          s"commit lock $lockFile kept being broken from under this writer " +
            s"within ${timeoutMs}ms — raise graft.commit.lock.timeout.ms")
    }
    false // unreachable
  }
}

/** No atomic primitive, no coordination configured: refuse LOUDLY. A
  * last-writer-wins "commit" silently erases concurrent transactions —
  * strictly worse than failing. */
final class RefusingCommitStore(scheme: String, why: String) extends CommitStore {
  override def putIfAbsent(f: FileSystem, target: Path, payload: Array[Byte],
                           nonce: String): Boolean =
    throw new IllegalStateException(
      s"refusing to commit to $target: filesystem scheme '$scheme' offers no " +
        s"atomic put-if-absent ($why). Configure graft.commit.lock.dir " +
        "(coordinate through a consistent store), set " +
        "graft.commit.conditional-put=true if the connector supports atomic " +
        "create-no-overwrite, or override graft.commit.store explicitly.")
}
