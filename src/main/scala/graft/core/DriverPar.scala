package graft.core

/**
 * Bounded parallel map for DRIVER-SIDE metadata I/O (parquet footer
 * reads, staged-file renames, per-file listStatus): these loops are pure
 * I/O latency — a commit of N files paid N × ~10 ms serially, which at
 * wide-partition writes (an 84-month hidden-partition commit) dominated
 * the commit. Order-preserving. Every item runs to completion before a
 * failure surfaces; then the first failure in item order is rethrown, so
 * no task is still running when the call returns or throws. Small inputs
 * run inline — no pool churn for 1-2 files. The pool's threads are made
 * by the calling thread, so they inherit its Spark local properties (job
 * group, scheduler pool).
 */
object DriverPar {
  /**
   * Recursive file listing that never materializes permissions.
   * `FileSystem.listFiles` wraps every entry in a `LocatedFileStatus`,
   * whose construction calls `getPermission` — on `RawLocalFileSystem`
   * without native Hadoop IO that loads ownership/permission info per
   * file (a stat/fork each, ~5-10 ms), which stack-sampling measured at
   * 37% of a warm 84-partition commit's wall time. A plain `listStatus`
   * walk returns the same `FileStatus` objects with permissions left
   * lazy — callers here only ever read `isFile`/`getPath`/`getLen`.
   * Directory order is filesystem-dependent; callers that care sort.
   */
  def listFilesNoPerm(f: org.apache.hadoop.fs.FileSystem,
                      dir: org.apache.hadoop.fs.Path,
                      recursive: Boolean = true,
                      maxFiles: Int = Int.MaxValue): Seq[org.apache.hadoop.fs.FileStatus] = {
    val buf = scala.collection.mutable.ArrayBuffer[org.apache.hadoop.fs.FileStatus]()
    def walk(p: org.apache.hadoop.fs.Path): Unit = {
      val it = f.listStatus(p).iterator
      while (it.hasNext && buf.size < maxFiles) {
        val st = it.next()
        if (st.isDirectory) { if (recursive) walk(st.getPath) }
        else buf += st
      }
    }
    walk(dir)
    buf.toSeq
  }

  def map[A, B](items: Seq[A], maxThreads: Int = 16)(fn: A => B): Seq[B] = {
    if (items.size <= 1) return items.map(fn)
    val n = math.min(items.size, math.max(2, maxThreads))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val futures = items.map(a => pool.submit(new java.util.concurrent.Callable[B] {
        override def call(): B = fn(a)
      }))
      val outcomes = futures.map(fu => scala.util.Try(fu.get()))
      outcomes.map {
        case scala.util.Success(b) => b
        case scala.util.Failure(e: java.util.concurrent.ExecutionException) =>
          throw Option(e.getCause).getOrElse(e)
        case scala.util.Failure(e) => throw e
      }
    } finally { pool.shutdown(); () }
  }
}
