package graft

import graft.core.{Catalog, DerivedUpdater, Pipeline}
import graft.sources.Sources

class DerivedUpdaterSpec extends SparkSpec {

  private def tmp() = java.nio.file.Files.createTempDirectory("derived").toString

  test("applyOnce runs the body exactly once per (table, run)") {
    val du = new DerivedUpdater(spark, tmp())
    var runs = 0
    assert(du.applyOnce("meta_daily_stats", "r1") { runs += 1 })
    assert(!du.applyOnce("meta_daily_stats", "r1") { runs += 1 }) // applied: skip
    assert(du.applyOnce("meta_daily_stats", "r2") { runs += 1 })  // new run id
    assert(du.applyOnce("meta_pipeline_health", "r1") { runs += 1 }) // other table
    assert(runs == 3)
    assert(du.isApplied("meta_daily_stats", "r1"))
  }

  test("a failed body releases the claim for retry; the error propagates") {
    val du = new DerivedUpdater(spark, tmp())
    val boom = intercept[RuntimeException] {
      du.applyOnce("meta_sla_status", "r1") { throw new RuntimeException("boom") }
    }
    assert(boom.getMessage == "boom")
    assert(!du.isApplied("meta_sla_status", "r1"))
    var retried = false
    assert(du.applyOnce("meta_sla_status", "r1") { retried = true })
    assert(retried && du.isApplied("meta_sla_status", "r1"))
  }

  test("concurrent claim arbitration elects exactly one winner") {
    val du = new DerivedUpdater(spark, tmp())
    // both claimers append before either checks: at most one may win
    val c1 = du.tryClaim("meta_daily_stats", "r1")
    val c2 = du.tryClaim("meta_daily_stats", "r1")
    assert(Seq(c1, c2).flatten.size <= 1)
    // with no applied marker yet, a later claim after the winner fails
    // succeeds again
    Seq(c1, c2).flatten.foreach(du.markFailed)
    assert(du.tryClaim("meta_daily_stats", "r1").isDefined)
  }

  test("simultaneous claimers: the atomic marker elects exactly one winner") {
    val du = new DerivedUpdater(spark, tmp())
    val barrier = new java.util.concurrent.CyclicBarrier(8)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Option[DerivedUpdater#Claim]] {
          def call() = { barrier.await(); du.tryClaim("meta_daily_stats", "rX") }
        })
      }
      val wins = futures.map(_.get()).flatten
      assert(wins.size == 1, s"expected exactly one winner, got ${wins.size}")
    } finally pool.shutdown()
  }

  test("conditional-put store: one winner per race, and no claim while it is open") {
    // a conditional put (S3 If-None-Match) fails a losing claimer at
    // close(); the loser must not then delete the winner's marker
    val hconf = spark.sparkContext.hadoopConfiguration
    val conf = Seq("fs.s3a.impl" -> classOf[MockConditionalPutFileSystem].getName,
      "fs.s3a.impl.disable.cache" -> "true", "graft.commit.store" -> "create")
    val saved = conf.map { case (k, _) => k -> Option(hconf.get(k)) }
    conf.foreach { case (k, v) => hconf.set(k, v) }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try (1 to 6).foreach { round =>
      val du = new DerivedUpdater(spark, "s3a://mock" + tmp())
      val barrier = new java.util.concurrent.CyclicBarrier(8)
      // a second winner's concurrent "claimed" append can itself fail
      val results = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Option[DerivedUpdater#Claim]] {
          def call() = { barrier.await(); du.tryClaim("meta_daily_stats", "rX") }
        })
      }.map(f => scala.util.Try(f.get()))
      assert(results.forall(_.isSuccess) && results.count(_.toOption.flatten.isDefined) == 1,
        s"round $round: expected exactly one winner and no failed claimer, got $results")
      assert(du.tryClaim("meta_daily_stats", "rX").isEmpty,
        s"round $round: a later claim won while the first claim was open")
    } finally {
      pool.shutdown()
      saved.foreach {
        case (k, Some(v)) => hconf.set(k, v)
        case (k, None) => hconf.unset(k)
      }
    }
  }

  test("stale claims do not block reclaim") {
    val root = tmp()
    val hung = new DerivedUpdater(spark, root, maxClaimAgeMinutes = 0L)
    // a claim with 0-minute max age is immediately stale
    Thread.sleep(5)
    assert(new DerivedUpdater(spark, root, maxClaimAgeMinutes = 0L)
      .tryClaim("meta_daily_stats", "r1").isDefined ||
      hung.tryClaim("meta_daily_stats", "r1").isDefined)
  }

  test("unknown derived table names are rejected") {
    val du = new DerivedUpdater(spark, tmp())
    intercept[IllegalArgumentException] {
      du.tryClaim("meta_bogus", "r1")
    }
  }

  test("slaStatus classifies ok / late / failing from recorded runs") {
    val root = tmp()
    val cat = new Catalog(spark, root)
    cat.recordRun("fresh", "r1", Seq(("n", true, 10L, "")))
    cat.recordRun("broken", "r1", Seq(("n", false, 10L, "err")))
    val soon = new java.sql.Timestamp(System.currentTimeMillis() + 3600 * 1000L)
    val byName = cat.slaStatus(Map("fresh" -> 2.0), defaultSlaHours = 24.0,
      asOf = Some(soon))
      .collect().map(r => r.getAs[String]("pipeline") -> r.getAs[String]("status"))
      .toMap
    assert(byName("fresh") == "ok")     // 1h old < 2h SLA
    assert(byName("broken") == "failing") // no success ever
    val muchLater = new java.sql.Timestamp(System.currentTimeMillis() + 3L * 3600 * 1000L)
    val late = cat.slaStatus(Map("fresh" -> 2.0), asOf = Some(muchLater))
      .collect().map(r => r.getAs[String]("pipeline") -> r.getAs[String]("status"))
      .toMap
    assert(late("fresh") == "late")     // 3h old > 2h SLA
  }

  test("derived daily stats fold exactly once into a stored table") {
    val root = tmp()
    val cat = new Catalog(spark, root)
    val du = new DerivedUpdater(spark, root)
    val cfg = Pipeline.PipelineConfig("p", Seq(
      Pipeline.NodeConfig("src", read = Some(Sources.ReadConfig("parquet",
        Some("/root/testdata/sf0.001/region.parquet"))))))
    Catalog.runRecorded(spark, cfg, cat, "run-1")
    val statsPath = s"$root/stored_daily_stats"
    def fold(): Unit = cat.dailyStats.write.mode("append").parquet(statsPath)
    assert(du.applyOnce("meta_daily_stats", "run-1")(fold()))
    assert(!du.applyOnce("meta_daily_stats", "run-1")(fold()))
    assert(spark.read.parquet(statsPath).count() == 1)
  }
}
