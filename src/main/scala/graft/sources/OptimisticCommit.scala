package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/**
 * The one optimistic-commit loop every Delta and Iceberg commit runs
 * through (write, merge, delete, compaction, restore, rollback, schema
 * change). It owns the attempt loop, the one attempt cap, the one give-up
 * exception, and reclaiming an attempt's staged files after a lost race
 * or a terminal failure.
 *
 * A call site describes ONE attempt: read the table state, build the
 * commit, name the files it staged ([[Attempt.stage]]), and return
 * [[Publish]] with the claim from its format's one publish function
 * ([[DeltaWriter.publish]], [[IcebergSource.publishMeta]] — how a version
 * is claimed and what follows a win), or [[Finish]] when there is nothing
 * to commit. A lost claim means another writer committed: the next
 * attempt rebuilds against the winner's state. An attempt that must not
 * rebase (a compaction whose inputs were retired) throws instead.
 */
object OptimisticCommit {

  /** Attempts before giving up. A lost race means another writer
    * COMMITTED, so every lost attempt is progress for the table; the cap
    * bounds one writer's starvation under sustained contention, not the
    * total work, and 20 keeps a writer racing a busy table while still
    * failing in bounded time. */
  val MaxAttempts = 20

  /** Every claim of `attempts` attempts was lost to concurrent commits. */
  final class GaveUpException(val operation: String, val root: String,
                              val attempts: Int)
    extends IllegalStateException(
      s"$operation at $root gave up after $attempts attempts: every version " +
        "claim was lost to a concurrent commit")

  /** How a format claims a version (`tryClaim`: true = this writer's
    * commit is published), the work that follows a won claim, and the
    * claim's `target` with this writer's `payload` — read back when
    * `tryClaim` throws, since a claim can land and still throw (a lock
    * release or temp delete after the publish, a rename RPC that timed
    * out after the store applied it). */
  final case class Claim(tryClaim: () => Boolean, afterWin: () => Unit,
                         target: Path, payload: () => Array[Byte])

  /** What one attempt decided. */
  sealed trait Step[+T]
  /** Claim a version; `result` is the operation's result on a win. */
  final case class Publish[+T](claim: Claim, result: T) extends Step[T]
  /** Nothing to commit: every staged file is reclaimed, `result` returned. */
  final case class Finish[+T](result: T) extends Step[T]

  /** One attempt: its 1-based number and the files it staged. */
  final class Attempt private[OptimisticCommit] (val number: Int) {
    private[OptimisticCommit] val files =
      scala.collection.mutable.ArrayBuffer.empty[Path]
    def stage(paths: Iterable[Path]): Unit = files ++= paths
    def stage(path: Path): Unit = files += path
  }

  /**
   * Run `attempt` until its claim wins, it finishes without a commit, it
   * throws, or [[MaxAttempts]] claims are lost. `staged` are files the
   * operation wrote BEFORE its first attempt and reuses in every attempt
   * (data staged once); they are reclaimed when the operation ends
   * without a won claim. An attempt's own files are reclaimed when its
   * claim is lost or anything in it fails. Nothing is reclaimed once a
   * claim wins: a failure in the after-win work propagates, but the
   * commit stands. A claim that throws is read back: if the target holds
   * this writer's payload the commit landed and counts as won; if the
   * target cannot be read, the failure propagates and no file is
   * reclaimed, since a landed commit may reference any of them.
   */
  def run[T](operation: String, f: FileSystem, root: String,
             staged: Seq[Path] = Nil)(attempt: Attempt => Step[T]): T = {
    var won = false
    var maybeLanded = false
    try {
      var attempts = 0
      while (attempts < MaxAttempts) {
        attempts += 1
        val at = new Attempt(attempts)
        val step = try attempt(at) catch {
          case e: Throwable => reclaim(f, at.files); throw e
        }
        step match {
          case Finish(result) =>
            reclaim(f, at.files ++ staged)
            return result
          case Publish(claim, result) =>
            won = try claim.tryClaim() catch {
              case e: Throwable => landed(f, claim) match {
                case Some(true) => true // published; what failed came after
                case Some(false) => reclaim(f, at.files); throw e
                case None => maybeLanded = true; throw e
              }
            }
            if (won) {
              claim.afterWin()
              return result
            }
            reclaim(f, at.files)
        }
      }
      throw new GaveUpException(operation, root, attempts)
    } catch {
      case e: Throwable =>
        if (!won && !maybeLanded) reclaim(f, staged)
        throw e
    }
  }

  /** Whether `claim.target` holds this writer's payload: Some(false) when
    * it is absent or holds another writer's commit, None when it cannot
    * be read. */
  private def landed(f: FileSystem, claim: Claim): Option[Boolean] =
    try {
      val in = f.open(claim.target)
      try Some(java.util.Arrays.equals(in.readAllBytes(), claim.payload()))
      finally in.close()
    } catch {
      case _: java.io.FileNotFoundException => Some(false)
      case _: Exception => None
    }

  /** Best-effort delete: a file left behind is uncommitted garbage a
    * vacuum collects, never table state. */
  private def reclaim(f: FileSystem, paths: Iterable[Path]): Unit =
    paths.foreach { p =>
      try { f.delete(p, true); () } catch { case _: Exception => () }
    }
}
