package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.Tag

import graft.core.PlanAudit

/** Marker for the slow scale-soak tests — exclude with `testOnly -- -l graft.Soak`. */
object Soak extends Tag("graft.Soak")

/**
 * Scale soak: the most expensive bench plans rebuilt over ~20M-row
 * synthetic frames (spark.range — no testdata dependency), asserting PLAN
 * SHAPES rather than wall-time: no cartesian product, no shuffle into a
 * single partition (the funnel that killed the r5 weightedMix), windows
 * partitioned by bucketed keys. A funnel that hides at spec size (5k
 * rows in 4 partitions) has nowhere to hide in the physical plan.
 *
 * The cheap plans (exact dedup, weighted mix) also EXECUTE at 20M to
 * catch runtime-only regressions; the hashing-heavy ones (minhash,
 * contamination) are audited pre-execution — the plan shape is the
 * invariant, and their per-row cost is covered by the bench.
 */
class SoakSpec extends SparkSpec {

  import spark.implicits._

  private val N = 20000000L

  // the soaks write gigabytes under these; a suite that left them
  // behind would fill a shared temp volume within a few runs
  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[java.io.File]
  private def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    tempDirs += d
    d.toString
  }
  override def afterAll(): Unit = {
    def delete(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(delete))
      f.delete(); ()
    }
    tempDirs.foreach(delete)
    super.afterAll()
  }

  /** 20M docs, every body duplicated exactly once (id % (n/2)). */
  private def docs(n: Long): DataFrame = spark.range(n).select(
    $"id",
    concat(lit("document body text number "), ($"id" % (n / 2)).cast("string"),
      lit(" with some shared boilerplate words appended")).as("text"))

  private def assertScaleSafe(name: String, a: PlanAudit.Audit): Unit = {
    assert(a.numCartesianProducts == 0, s"$name: cartesian product in plan")
    assert(a.numSinglePartitionExchanges == 0,
      s"$name: shuffle into a single partition — a reducer funnel")
  }

  private def bucketedWindows(df: DataFrame, name: String,
                              expectedKeys: Int): Unit = {
    val windows = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    windows.foreach(w => assert(w.partitionSpec.size == expectedKeys,
      s"$name: window must partition by $expectedKeys keys, got ${w.partitionSpec}"))
  }

  test("exact dedup at 20M: bucketed shuffle, executed row count", Soak) {
    val out = graft.operators.Dedup.exactDedup(docs(N), "id", "text")
    assertScaleSafe("exactDedup", PlanAudit.audit(out))
    // every body occurs exactly twice -> exactly n/2 winners survive
    assert(out.count() == N / 2)
    // post-execution AQE plan stays funnel-free too
    assertScaleSafe("exactDedup/executed", PlanAudit.audit(out))
  }

  test("bloom incremental dedup at 2M batch vs 2M corpus: exact counts, scale-safe", Soak) {
    val n = 2000000L
    // corpus: docs 0..n-1; batch: half replays of corpus bodies, half new
    val corpusDocs = spark.range(n).select($"id",
      concat(lit("corpus body "), $"id".cast("string")).as("text"))
    val seen = graft.operators.Dedup.newFingerprints(corpusDocs, "text")
    val batch = spark.range(n, 2 * n).select($"id",
      when($"id" % 2 === 0, concat(lit("corpus body "), ($"id" % n).cast("string")))
        .otherwise(concat(lit("fresh body "), $"id".cast("string"))).as("text"))
    val filter = graft.operators.BloomIndex.build(seen, "fingerprint", n, 0.01)
    val out = graft.operators.BloomIndex.incrementalExactDedup(
      batch, "id", "text", seen, filter)
    assertScaleSafe("bloomDedup", PlanAudit.audit(out))
    // exactly the odd-id (fresh) half survives; every replay drops
    assert(out.count() == n / 2)
    assertScaleSafe("bloomDedup/executed", PlanAudit.audit(out))
  }

  test("html extraction + unicode normalize at 2M: one shuffle-free projection", Soak) {
    val n = 2000000L
    val pages = spark.range(n).select($"id",
      concat(lit("<html><head><title>T"), $"id",
        lit("</title><script>var x=1;</script></head><body><p>body text "),
        $"id", lit(" &amp; more</p></body></html>")).as("html"))
    val out = pages.select($"id",
      graft.functions.TextAnalysis.normalizeUnicode(
        graft.functions.TextAnalysis.htmlToText($"html")).as("text"))
    assertScaleSafe("htmlToText", PlanAudit.audit(out))
    assert(PlanAudit.audit(out).numExchanges == 0, "text extraction must not shuffle")
    // executed: every row extracts; spot-check the exact shape
    assert(out.count() == n)
    val r = out.filter($"id" === 1234567L).head().getString(1)
    assert(r == "T1234567\nbody text 1234567 & more", r)
  }

  test("tfidf top terms at 1M docs: scalar shuffles, doc-keyed window", Soak) {
    val n = 1000000L
    val docsDf = spark.range(n).select($"id",
      concat(lit("alpha beta gamma term"), ($"id" % 1000).cast("string"),
        lit(" shared words everywhere")).as("text"))
    val out = graft.functions.TextAnalysis.tfidfTopTerms(docsDf, "id", "text", k = 3)
    assertScaleSafe("tfidf", PlanAudit.audit(out))
    bucketedWindows(out, "tfidf", 1) // ranked within each doc id only
    assert(out.count() == 3L * n) // every doc has >= 3 distinct terms
  }

  test("weighted mix at 20M: every rank window is (source,bucket)-partitioned", Soak) {
    val mix = spark.range(N).select(
      $"id", when($"id" % 10 === 0, "b").otherwise("a").as("src"))
    val out = graft.operators.Sampling.weightedMix(mix, "src", Seq("id"),
      Map("a" -> 0.5, "b" -> 0.5))
    assertScaleSafe("weightedMix", PlanAudit.audit(out))
    bucketedWindows(out, "weightedMix", expectedKeys = 2)
    // the b side (2M rows) pins the mix: exactly 2M kept per source
    val bySrc = out.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc == Map("a" -> (N / 10), "b" -> (N / 10)))
  }

  test("sequence packing at 20M: range-bucketed prefix sums, no global window", Soak) {
    val seqs = spark.range(N).select($"id", ($"id" % 509 + 1).as("toks"))
    val out = graft.operators.Packing.packSequences(seqs, "id", "toks",
      budget = 8192)
    assertScaleSafe("packSequences", PlanAudit.audit(out))
    bucketedWindows(out, "packSequences", expectedKeys = 1)
    val windows = out.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty)
    // each window partitions by the range bucket, never a constant
    windows.foreach(w =>
      assert(w.partitionSpec.exists(_.toString.contains("_bkt")),
        s"packSequences: window not bucket-partitioned: ${w.partitionSpec}"))
  }

  test("minhash LSH pairs at 20M: banded equi-join, bucketed cap windows", Soak) {
    val out = graft.operators.Dedup.minhashLshPairs(docs(N), "id", "text")
    assertScaleSafe("minhashLshPairs", PlanAudit.audit(out))
    // the bucket-cap count window partitions by (band, bucket)
    bucketedWindows(out, "minhashLshPairs", expectedKeys = 2)
  }

  test("contamination at 20M: benchmark broadcast, corpus never pairs", Soak) {
    val benchmark = (1 to 200).map(i =>
      s"benchmark question $i about topic ${i % 7} answer text").toDF("text")
    val out = graft.operators.Dedup.ngramContamination(
      docs(N), "id", "text", benchmark, "text")
    val a = PlanAudit.audit(out)
    assertScaleSafe("contamination", a)
    assert(a.numBroadcastJoins >= 1,
      "contamination: benchmark n-gram set must join as a broadcast")
  }

  test("IVF top-k at 2M: centroid assignment stays shuffle- and blowup-free", Soak) {
    // 2M embeddings (not 20M): construction runs Lloyd's sampling pass
    // eagerly; the plan shape under audit is identical at any row count
    val corpus = spark.range(2000000).select($"id",
      transform(sequence(lit(0), lit(15)),
        i => sin($"id" * (i + 1))).cast("array<float>").as("vec"))
    val queries = spark.range(100).select($"id".as("qid"),
      transform(sequence(lit(0), lit(15)),
        i => cos($"qid" * (i + 1))).cast("array<float>").as("qvec"))
    val out = graft.functions.Similarity.ivfTopK(
      corpus, "id", "vec", queries, "qid", "qvec",
      k = 5, numCentroids = 16, nprobe = 4, lloydIters = 1)
    assertScaleSafe("ivfTopK", PlanAudit.audit(out))
    assert(out.count() == 500) // 100 queries x k=5, executed end-to-end
  }

  test("IVF-PQ top-k at 2M: m-byte cells, ADC scan, broadcast re-rank", Soak) {
    val corpus = spark.range(2000000).select($"id",
      transform(sequence(lit(0), lit(15)),
        i => sin($"id" * (i + 1))).cast("array<float>").as("vec"))
    val queries = spark.range(100).select($"id".as("qid"),
      transform(sequence(lit(0), lit(15)),
        i => cos($"qid" * (i + 1))).cast("array<float>").as("qvec"))
    val index = graft.functions.Similarity.buildIvfPqIndex(
      corpus, "id", "vec", dim = 16, numCentroids = 16, lloydIters = 1,
      m = 4, ksub = 16, trainSample = 2048)
    // the corpus-proportional table holds codes + norm, never vectors
    assert(index.cells.schema("_codes").dataType ==
      org.apache.spark.sql.types.BinaryType)
    assert(!index.cells.columns.contains("vec"))
    val out = graft.functions.Similarity.ivfPqTopKIndexed(
      index, queries, "qid", "qvec", k = 5, nprobe = 4, refineFactor = 4)
    val audit = PlanAudit.audit(out)
    assertScaleSafe("ivfPqTopK", audit)
    // the exact re-rank joins survivors BROADCAST against the vector table
    assert(audit.numBroadcastJoins >= 1,
      "survivor re-rank must broadcast, not shuffle the vector table")
    assert(out.count() == 500) // executed end-to-end at 2M
  }

  test("minhash-index probe of a 200k-doc index by a 100k batch: equi-join, all dups drop", Soak) {
    // a real signed 200k-doc index probed by a 100k-doc batch: the plan
    // must stay an equi-join with per-doc cap windows, no cartesian, no
    // funnel — and because the generator repeats bodies, EVERY batch doc
    // must match the index (recall check at soak size, not just 5 rows).
    val dir = tempDir("soakmh")
    graft.operators.MinHashIndex.build(
      docs(200000L), "id", "text", s"$dir/idx")
    val batch = docs(100000L)
    val out = graft.operators.MinHashIndex.dedupAgainst(
      batch, "id", "text", s"$dir/idx", threshold = 0.9)
    assertScaleSafe("minhashIndex/dedupAgainst", PlanAudit.audit(out))
    // every batch body exists in the 200k index (same generator) -> all drop
    assert(out.count() == 0)
  }

  test("crossDocNgrams at 2M: scalar shuffles, every duplicated doc fully repeated", Soak) {
    // every body occurs exactly twice and every 8-gram contains the doc
    // number -> each gram's doc frequency is exactly 2, no hot key
    val n = 2000000L
    val out = graft.operators.Dedup.crossDocNgrams(docs(n), "id", "text")
    assertScaleSafe("crossDocNgrams", PlanAudit.audit(out))
    val agg = out.agg(count(lit(1)), min($"repeated_frac"), max($"repeated_frac"))
      .collect()(0)
    assert(agg.getLong(0) == n)
    assert(agg.getDouble(1) == 1.0 && agg.getDouble(2) == 1.0)
  }

  test("removeRepeatedSpans at 2M: merged spans empty exactly the later copies", Soak) {
    val n = 2000000L
    val out = graft.operators.Dedup.removeRepeatedSpans(docs(n), "id", "text")
    assertScaleSafe("removeRepeatedSpans", PlanAudit.audit(out))
    // lower-id copy holds the global first occurrence of each of its
    // 8-grams and survives intact; the higher-id copy's hit windows merge
    // to one span covering all 11 words -> empties out
    val bySide = out.groupBy(($"id" >= n / 2).as("dup"))
      .agg(sum($"removed_words").as("rm"), count(lit(1)).as("c"))
      .collect().map(r => r.getBoolean(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(bySide(false) == ((0L, n / 2)))
    assert(bySide(true) == ((11L * (n / 2), n / 2)))
  }

  test("dsirWeights at 2M docs: vocab-bounded broadcasts, two corpus passes", Soak) {
    val n = 2000000L
    val target = (1 to 200).map(i =>
      s"curated domain document $i about topic ${i % 7}").toDF("text")
    val out = graft.operators.Sampling.dsirWeights(
      docs(n), "id", "text", target, "text")
    val a = PlanAudit.audit(out)
    assertScaleSafe("dsirWeights", a)
    assert(a.numBroadcastJoins >= 1,
      "dsirWeights: the ratio table must join as a broadcast")
    // every doc body contains the same vocab mix (only the number word
    // varies), so scores are finite and one row per doc comes back
    assert(out.count() == n)
  }

  test("perplexityScore at 2M docs: LM tables broadcast, one doc-keyed window", Soak) {
    val n = 2000000L
    val target = (1 to 200).map(i =>
      s"curated domain document $i about topic ${i % 7}").toDF("text")
    val out = graft.operators.Sampling.perplexityScore(
      docs(n), "id", "text", target, "text")
    val a = PlanAudit.audit(out)
    assertScaleSafe("perplexityScore", a)
    assert(a.numBroadcastJoins >= 2,
      "perplexityScore: unigram/bigram/context tables must join as broadcasts")
    // the only window is the per-doc lag — partitioned by the doc id
    bucketedWindows(out, "perplexityScore", expectedKeys = 1)
    assert(out.count() == n)
  }

  test("semanticDedup at 50k duplicated vectors: all exact dups drop in-cluster", Soak) {
    // every vector occurs exactly twice (id % (n/2)): identical inputs get
    // identical nearest-centroid cells, so each dup pair meets inside one
    // cluster and verifies at cosine 1.0 — exact-dup recall must be total
    // at soak size, and survivors are exactly the min-id copies
    val n = 50000L
    val corpus = spark.range(n).select($"id",
      transform(sequence(lit(0), lit(15)),
        i => sin(($"id" % (n / 2)) * (i + 1))).cast("array<float>").as("vec"))
    val pairs = graft.operators.Dedup.semanticDedupPairs(
      corpus, "id", "vec", numClusters = 128, threshold = 0.999)
    assertScaleSafe("semanticDedupPairs", PlanAudit.audit(pairs))
    val out = graft.operators.Dedup.semanticDedup(
      corpus, "id", "vec", numClusters = 128, threshold = 0.999)
    assert(out.filter($"id" >= n / 2).count() == 0) // every later copy drops
    val c = out.count()
    assert(c > 0 && c <= n / 2)
  }

  test("BPE token counting at 2M docs: one shuffle-free projection", Soak) {
    val n = 2000000L
    // train on a bounded slice (the vocab is tiny — the merge loop is
    // driver-side either way); ENCODING the full corpus is the scale path
    val model = graft.functions.Bpe.train(docs(10000L), "text", numMerges = 100)
    val out = graft.functions.Bpe.tokenCount(docs(n), model, "text")
    val a = PlanAudit.audit(out)
    assertScaleSafe("bpeTokenCount", a)
    assert(a.numExchanges == 0, "bpe encode must be a pure projection")
    val agg = out.agg(sum($"bpe_token_count")).collect()(0).getLong(0)
    assert(agg > n) // every doc tokenizes to >= a few tokens
  }

  test("quality classifier scoring at 2M docs: broadcast weights, no shuffle", Soak) {
    val n = 2000000L
    val labeled = (0 until 2000).map { i =>
      if (i % 2 == 0) (s"theorem proof lemma analysis result $i", 1.0)
      else (s"click free winner casino offer $i", 0.0)
    }.toDF("text", "label")
    val model = graft.functions.QualityClassifier.train(
      labeled, "text", "label", numFeatures = 1 << 16)
    val out = graft.functions.QualityClassifier.scoreFrame(
      docs(n), model, "text")
    val a = PlanAudit.audit(out)
    assertScaleSafe("qualityScore", a)
    assert(a.numExchanges == 0, "classifier scoring must be a pure projection")
    assert(out.filter($"quality_prob".isNull).count() == 0)
  }

  test("fuzzy join at 2M duplicate-heavy rows: value-collapsed, exact match count", Soak) {
    // 2M ids over 2k distinct names (the duplicate-heavy corpus shape):
    // the signature machinery must run on the 2k values, never the 2M ids
    val n = 2000000L
    val names = (df: DataFrame) => df.select($"id",
      concat(lit("record name number "), ($"id" % 2000).cast("string")).as("name"))
    val left = names(spark.range(n).toDF("id"))
    val right = names(spark.range(n / 100).toDF("id"))
      .select(($"id" + 10000000L).as("rid"), $"name")
    val out = graft.operators.Fuzzy.fuzzyJoin(
      left, "id", "name", right, "rid", "name", maxDist = 1)
    assertScaleSafe("fuzzyJoin", PlanAudit.audit(out))
    val got = out.count()
    // exact expectation: brute-force levenshtein over the 2000 distinct
    // suffixes, scaled by the duplication factors of each side
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = dp(0); dp(0) = j
        for (i <- 1 to a.length) {
          val cur = dp(i)
          dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(a.length)
    }
    val expected = (0 until 2000).map { d =>
      val hits = (0 until 2000).count(v => lev(d.toString, v.toString) <= 1)
      hits.toLong * (n / 2000) * (n / 100 / 2000)
    }.sum
    assert(got == expected, s"fuzzy join: got $got expected $expected")
  }

  test("lakehouse partition pruning at 2M: one partition listed, not the table", Soak) {
    // a day/region incremental load against a 2M-row partitioned table
    // must LIST one partition's files — pruning is driver-side metadata,
    // so the scan's inputFiles (what a 1000-executor cluster would open)
    // is the invariant, not wall time
    val n = 2000000L
    val regions = 8
    val df = spark.range(n).select(
      $"id", concat(lit("r"), ($"id" % regions).cast("string")).as("region"),
      ($"id" % 1000).cast("double").as("v"))

    val iceRoot = tempDir("soakice") + "/t"
    graft.sources.IcebergSource.write(df, iceRoot, "append",
      partitionBy = Seq("region"))
    val iceAll = graft.sources.IcebergSource.read(spark, iceRoot)
    val iceOne = graft.sources.IcebergSource.read(spark, iceRoot,
      partitionFilter = Seq(graft.sources.IcebergSource
        .PartitionPredicate("region", "=", "r3")))
    assert(iceOne.inputFiles.length * (regions - 1) < iceAll.inputFiles.length,
      s"iceberg: ${iceOne.inputFiles.length} of ${iceAll.inputFiles.length} files")
    assert(iceOne.count() == n / regions)
    assertScaleSafe("iceberg pruned read", PlanAudit.audit(iceOne))

    val dlRoot = tempDir("soakdl") + "/t"
    graft.sources.DeltaWriter.write(df, dlRoot, partitionBy = Seq("region"))
    val dlAll = graft.sources.DeltaLog.read(spark, dlRoot)
    val dlOne = graft.sources.DeltaLog.read(spark, dlRoot,
      partitionFilter = Map("region" -> "r3"))
    assert(dlOne.inputFiles.length * (regions - 1) < dlAll.inputFiles.length,
      s"delta: ${dlOne.inputFiles.length} of ${dlAll.inputFiles.length} files")
    assert(dlOne.count() == n / regions)
  }

  /** Spark jobs submitted by `body` — the number of DISTRIBUTED passes a
    * maintenance operation costs (driver-side metadata work is free). */
  private def distributedJobs[T](tag: String)(body: => T): (T, Int) = {
    spark.sparkContext.setJobGroup(tag, tag, interruptOnCancel = false)
    try {
      val r = body
      (r, spark.sparkContext.statusTracker.getJobIdsForGroup(tag).length)
    } finally spark.sparkContext.clearJobGroup()
  }

  test("maintenance at 2M: OPTIMIZE is ONE distributed rewrite, rows conserved", Soak) {
    // compaction cost on a 1000-executor cluster = number of distributed
    // passes x data moved; both lakehouse compactors must route every
    // bin through a single rewrite job (planning is driver-side manifest
    // math) and conserve rows exactly
    val n = 2000000L
    val df = spark.range(n).select(
      $"id", ($"id" % 997).cast("double").as("v"),
      concat(lit("p"), ($"id" % 4).cast("string")).as("part"))

    val dlRoot = tempDir("soakdlopt") + "/t"
    graft.sources.DeltaWriter.write(df.repartition(8), dlRoot,
      partitionBy = Seq("part"))
    val filesBefore = graft.sources.DeltaLog.read(spark, dlRoot).inputFiles.length
    val (dres, djobs) = distributedJobs("soak-delta-opt") {
      graft.sources.DeltaMaintenance.optimize(spark, dlRoot,
        targetFileBytes = 1L << 30)
    }
    assert(dres.version.nonEmpty && dres.filesAdded < dres.filesRemoved, s"$dres")
    assert(djobs <= 3, s"delta optimize cost $djobs distributed jobs")
    val dlAfter = graft.sources.DeltaLog.read(spark, dlRoot)
    assert(dlAfter.inputFiles.length < filesBefore)
    assert(dlAfter.count() == n, "delta optimize lost rows")

    val iceRoot = tempDir("soakiceopt") + "/t"
    graft.sources.IcebergSource.write(df.repartition(8), iceRoot, "append",
      partitionBy = Seq("part"))
    val (ires, ijobs) = distributedJobs("soak-ice-opt") {
      graft.sources.IcebergMaintenance.optimize(spark, iceRoot,
        targetFileBytes = 1L << 30)
    }
    assert(ires.snapshotId.nonEmpty && ires.filesAdded < ires.filesRemoved, s"$ires")
    assert(ijobs <= 3, s"iceberg optimize cost $ijobs distributed jobs")
    assert(graft.sources.IcebergSource.read(spark, iceRoot).count() == n,
      "iceberg optimize lost rows")
  }

  test("row-level deletes at 2M: bitmaps/positions move, not data files", Soak) {
    // deleting ~1% of a table must be metadata-weight: ONE distributed
    // scan to find positions, kilobyte-scale delete artifacts, zero data
    // files rewritten — the shape that survives at 100 TB
    val n = 2000000L
    val df = spark.range(n).select($"id", ($"id" % 1000).cast("long").as("m"))

    val dlRoot = tempDir("soakdldv") + "/t"
    graft.sources.DeltaWriter.write(df.repartition(8), dlRoot)
    val dataBefore = new java.io.File(dlRoot).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val res = graft.sources.DeltaDvWriter.delete(spark, dlRoot, "m < 10")
    assert(res.deletedRows == n / 100, s"$res")
    val dataAfter = new java.io.File(dlRoot).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(dataAfter == dataBefore, "DV delete rewrote data files at scale")
    assert(graft.sources.DeltaLog.read(spark, dlRoot).count() == n - n / 100)

    val iceRoot = tempDir("soakicedel") + "/t"
    graft.sources.IcebergSource.write(df.repartition(8), iceRoot)
    val ires = graft.sources.IcebergSource.delete(spark, iceRoot, "m < 10")
    assert(ires.deletedRows == n / 100, s"$ires")
    assert(graft.sources.IcebergSource.read(spark, iceRoot).count() == n - n / 100)
  }

  test("DV delete cadence at 2M: 50 x 0.1% deletes, bounded state, optimize purges", Soak) {
    // the realistic GDPR/cleanup cadence: many tiny deletes against one
    // table. Invariants that must hold for this to survive at 100 TB:
    // each data file carries ONE merged vector (not 50 stacked ones),
    // live DV payload stays kilobyte-scale, checkpoints keep log replay
    // bounded, OPTIMIZE purges the bitmaps, and VACUUM reclaims every
    // superseded bin file.
    import graft.sources.{DeltaDvWriter, DeltaLog, DeltaMaintenance, DeltaWriter}
    val n = 2000000L
    val rounds = 50
    val df = spark.range(n).select($"id", ($"id" % 1000).cast("long").as("m"))
    val root = tempDir("soakdvcadence") + "/t"
    DeltaWriter.write(df.repartition(8), root)
    val dataBefore = new java.io.File(root).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet

    val perRound = n / 1000 // 0.1%
    (0 until rounds).foreach { i =>
      val r = DeltaDvWriter.delete(spark, root, s"m = $i")
      assert(r.deletedRows == perRound, s"round $i: $r")
    }
    val snap = DeltaLog.snapshot(spark, root)
    assert(snap.version == rounds.toLong)
    // merged vectors: at most ONE descriptor per data file, cardinalities
    // sum to everything deleted so far
    val dvs = snap.files.flatMap(_.deletionVector)
    assert(dvs.size <= 8, s"stacked descriptors: ${dvs.size}")
    assert(dvs.map(_.cardinality).sum == rounds * perRound)
    // live DV payload is kilobyte-scale, not data-scale
    val liveDvBytes = dvs.map(_.sizeInBytes.toLong).sum
    assert(liveDvBytes < 512 * 1024, s"live DV payload $liveDvBytes bytes")
    // checkpoints bound replay: the newest checkpoint is <= 10 commits old
    val cps = new java.io.File(root, "_delta_log").listFiles()
      .filter(_.getName.endsWith(".checkpoint.parquet"))
      .map(_.getName.take(20).toLong)
    assert(cps.nonEmpty && snap.version - cps.max < 10,
      s"checkpoint lag: ${snap.version} vs ${cps.toSeq.sorted}")
    // no data file was rewritten through all 50 commits
    val dataAfter = new java.io.File(root).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(dataAfter == dataBefore)
    assert(DeltaLog.read(spark, root).count() == n - rounds * perRound)

    // OPTIMIZE is the purge: rewritten files carry no vectors…
    val opt = DeltaMaintenance.optimize(spark, root)
    assert(opt.version.nonEmpty, s"$opt")
    val purged = DeltaLog.snapshot(spark, root)
    assert(purged.files.forall(_.deletionVector.isEmpty), "optimize kept DVs")
    assert(DeltaLog.read(spark, root).count() == n - rounds * perRound)
    // …and VACUUM reclaims every superseded bin file + old data file
    val vac = DeltaMaintenance.vacuum(spark, root, retentionHours = 0.0)
    val binsLeft = new java.io.File(root).listFiles()
      .count(_.getName.startsWith("deletion_vector_"))
    assert(binsLeft == 0, s"vacuum left $binsLeft DV bin files (result: $vac)")
    assert(DeltaLog.read(spark, root).count() == n - rounds * perRound)
  }
  test("data skipping at 2M: range predicate reads one file of 32, exact", Soak) {
    import graft.sources.{DeltaLog, DeltaStats, DeltaWriter}
    val root = tempDir("soak_skip")
    val n = 2000000L
    DeltaWriter.write(
      spark.range(n).select($"id", ($"id" % 97).as("m"))
        .repartitionByRange(32, $"id"), root)
    val snap = DeltaLog.snapshot(spark, root)
    assert(snap.files.size == 32)
    // every add action carries usable bounds at this scale
    assert(snap.files.forall(_.stats.exists(_.contains("minValues"))))
    val lo = n - n / 64 // the top half-file
    val pr = DeltaStats.prune(spark, snap, col("id") >= lo)
    assert(pr.kept == 1, s"range predicate must isolate one file: $pr")
    val out = DeltaLog.read(spark, root, dataFilter = Some(col("id") >= lo))
    assertScaleSafe("skippingRead", PlanAudit.audit(out))
    assert(out.count() == n / 64)
    // the executed scan planned ONLY the kept file
    val scanned = out.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.inputFiles.length
    }
    assert(scanned.nonEmpty && scanned.forall(_ == 1),
      s"scan planned ${scanned.toSeq} files, wanted 1")
  }

}
