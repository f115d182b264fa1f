package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Exactly-once derived-table updates via a claim guard table (reference:
 * odibi/derived_updater.py — guard table `meta_derived_applied_runs`,
 * try_claim / mark_applied / mark_failed lifecycle with stale-claim
 * reclaim; invariants header: claim operations are FAIL-FAST and never
 * swallow exceptions).
 *
 * The history lives as an append-only parquet log under the catalog root
 * (the reference uses Delta/SQL Server transactions). Mutual exclusion
 * does NOT come from the log — parquet append has no compare-and-swap —
 * but from the put-if-absent primitive table commits claim their
 * versions with ([[graft.sources.CommitStore]]): claiming publishes a
 * per-(table, run) marker file only if none exists (link(2) locally,
 * rename-if-absent on HDFS, a conditional put on object stores that
 * offer one), so two concurrent claimers cannot both win no matter how
 * appends interleave:
 *
 *  1. exclusively create `_claims/<table>__<run>.claim`; creation
 *     failure = another live claim holds the key;
 *  2. a marker older than `maxClaimAgeMinutes` with no `applied` row is
 *     a dead claimer's: delete it and re-race the (again atomic) create;
 *  3. the winner appends `claimed`, runs the update, appends `applied`,
 *     then removes the marker; a failure appends `failed` and removes
 *     the marker, releasing the key for retry.
 *
 * An `applied` row is terminal: the (derived_table, run_id) pair never
 * re-applies on any LATER attempt — the contract that makes re-running a
 * finished orchestration idempotent. Residual caveats: a claimer that
 * outlives the stale threshold while still running can be reclaimed
 * (size the threshold above the longest update). On a store where
 * [[graft.sources.CommitStore]] refuses to commit (no atomic primitive
 * and no coordination configured), claiming fails loudly, exactly as a
 * table commit there does.
 */
final class DerivedUpdater(spark: SparkSession, root: String,
                           maxClaimAgeMinutes: Long = 60L) {
  import spark.implicits._

  private val guardPath = s"$root/meta_derived_applied_runs"

  /** Valid derived tables (derived_updater.py VALID_DERIVED_TABLES). */
  val validTables: Set[String] =
    Set("meta_daily_stats", "meta_pipeline_health", "meta_sla_status",
      "meta_node_hotspots")

  final case class Claim(derivedTable: String, runId: String, claimId: String)

  private def appendRow(table: String, runId: String, claimId: String,
                        status: String): Unit =
    Seq((table, runId, claimId, status))
      .toDF("derived_table", "run_id", "claim_id", "status")
      .withColumn("recorded_at", current_timestamp())
      .coalesce(1).write.mode("append").parquet(guardPath)

  // existence checked on the filesystem first: a read planned against
  // the missing log (every first run) fails as a logged failed query
  private def log(table: String, runId: String) = {
    val p = new org.apache.hadoop.fs.Path(guardPath)
    if (!fsOf(p).exists(p)) Nil
    else spark.read.parquet(guardPath)
      .filter(col("derived_table") === table && col("run_id") === runId)
      .select("claim_id", "status", "recorded_at")
      .collect().toSeq
  }

  /** Has this (derived_table, run_id) already been applied? */
  def isApplied(table: String, runId: String): Boolean =
    log(table, runId).exists(_.getAs[String]("status") == "applied")

  // markers live BESIDE the parquet log, never inside it — a marker file
  // in the table directory would break parquet schema inference on an
  // otherwise-empty log
  private def markerPath(table: String, runId: String): org.apache.hadoop.fs.Path = {
    def safe(s: String) = s.replaceAll("[^A-Za-z0-9._-]", "_")
    // sanitization can collide ('a/b' vs 'a_b'; runIds containing '__');
    // a digest of the RAW pair keeps distinct keys on distinct markers
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest((table + "\u0000" + runId).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(8)
    new org.apache.hadoop.fs.Path(
      s"$root/meta_derived_claims/${safe(table)}__${safe(runId)}__$digest.claim")
  }

  private def fsOf(p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Marker's recorded owner, if readable. */
  private def markerOwner(p: org.apache.hadoop.fs.Path): Option[String] =
    try {
      val in = fsOf(p).open(p)
      try Some(new String(in.readAllBytes(), "UTF-8").trim)
      finally in.close()
    } catch { case _: java.io.IOException => None }

  /** Release the marker only if this claim still owns it — after a stale
    * reclaim another claimer's marker may occupy the same path, and
    * deleting it would hand the key to a THIRD concurrent claimer. */
  private def releaseMarker(claim: Claim): Unit = {
    val m = markerPath(claim.derivedTable, claim.runId)
    if (markerOwner(m).contains(claim.claimId)) { fsOf(m).delete(m, false); () }
  }

  /**
   * Try to claim the update via exclusive marker creation. None when
   * already applied or another live claim holds the marker; failed and
   * stale claims do not block. Winning is atomic (see class doc) — two
   * concurrent callers cannot both receive `Some`.
   */
  def tryClaim(table: String, runId: String): Option[Claim] = {
    require(validTables.contains(table),
      s"unknown derived table '$table'; valid: ${validTables.toSeq.sorted.mkString(", ")}")
    if (isApplied(table, runId)) return None
    val claimId = java.util.UUID.randomUUID().toString
    val marker = markerPath(table, runId)
    val fs = fsOf(marker)
    // publish the marker, owned by claimId, iff none exists; a losing
    // claimer never touches the winner's marker
    def create(): Boolean = graft.sources.CommitStore.forFs(fs)
      .putIfAbsent(fs, marker, claimId.getBytes("UTF-8"), claimId)
    // Stale reclaim must not delete the marker in place: between "observe
    // stale" and "delete", another reclaimer may have already deleted it
    // AND re-created its own fresh marker — a plain delete would destroy
    // the new winner's claim. Renaming the stale marker to a per-claimer
    // tombstone is atomic (local rename / HDFS namenode), so exactly one
    // reclaimer removes it; only that one re-races the create.
    def reclaim(): Boolean = {
      val stale =
        try Some(fs.getFileStatus(marker).getModificationTime <
          System.currentTimeMillis() - maxClaimAgeMinutes * 60000L)
        catch { case _: java.io.FileNotFoundException => None }
      stale match {
        case Some(false) => false // live claim holds the key
        case None => create() // vanished: plain atomic race
        case Some(true) =>
          val tomb = new org.apache.hadoop.fs.Path(marker.getParent,
            s"${marker.getName}.$claimId.reclaim")
          val renamed = try fs.rename(marker, tomb)
            catch { case _: java.io.IOException => false }
          renamed && {
            // TOCTOU guard: between our staleness read and the rename,
            // another reclaimer may have tombstoned the stale marker AND
            // won the re-raced create — the file we just moved would then
            // be the NEW winner's fresh marker, not the stale one. Rename
            // preserves mtime (local and HDFS), so re-check it on the
            // tombstone: a fresh mtime means we stole a live claim — put
            // it back and lose; only a verified-stale tombstone is deleted.
            val tombStillStale =
              try fs.getFileStatus(tomb).getModificationTime <
                System.currentTimeMillis() - maxClaimAgeMinutes * 60000L
              catch { case _: java.io.IOException => false }
            if (!tombStillStale) {
              try fs.rename(tomb, marker)
              catch { case _: java.io.IOException => () }
              false
            } else { fs.delete(tomb, false); create() }
          }
      }
    }
    val won = create() || reclaim()
    if (!won) return None
    // close the applied-while-we-raced window: markApplied appends the
    // terminal row BEFORE removing its marker, so if our create succeeded
    // because the winner just cleaned up, the applied row is visible now
    if (isApplied(table, runId)) { fs.delete(marker, false); return None }
    appendRow(table, runId, claimId, "claimed")
    Some(Claim(table, runId, claimId))
  }

  /** Terminal: the pair will never re-apply. Fail-fast — errors propagate.
    * Appends `applied` first, then releases the marker (that order closes
    * the reclaim race in [[tryClaim]]); the release checks ownership so a
    * reclaimed-past-stale claimer cannot free a SUCCESSOR's marker. */
  def markApplied(claim: Claim): Unit = {
    appendRow(claim.derivedTable, claim.runId, claim.claimId, "applied")
    releaseMarker(claim)
  }

  /** Releases the claim (log row + owned marker) so a later attempt can
    * retry. Fail-fast. */
  def markFailed(claim: Claim): Unit = {
    appendRow(claim.derivedTable, claim.runId, claim.claimId, "failed")
    releaseMarker(claim)
  }

  /**
   * Exactly-once wrapper (derived_updater.py apply_derived_update): claim,
   * run `body`, mark applied; on failure mark failed and rethrow. Returns
   * true when the body ran here, false when skipped (already applied or
   * lost the claim). Exactly-once holds wherever table commits are safe
   * (local, HDFS, a conditional-put or lock-coordinated object store) as
   * long as `maxClaimAgeMinutes` exceeds the body's runtime; a live
   * claimer reclaimed as stale can still apply twice. On a store where
   * [[graft.sources.CommitStore]] refuses, the claim throws and the body
   * never runs.
   */
  def applyOnce(table: String, runId: String)(body: => Unit): Boolean =
    tryClaim(table, runId) match {
      case None => false
      case Some(claim) =>
        try { body; markApplied(claim); true }
        catch { case e: Throwable => markFailed(claim); throw e }
    }
}
