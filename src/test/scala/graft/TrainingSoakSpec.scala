package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{Pipeline, PlanAudit, YamlConfig}

/**
 * End-to-end soak of the SHIPPED training-data curation pipeline
 * (examples/training_data/project.yaml — not just its operators) at ~2M
 * docs across TWO simulated crawl batches sharing one persisted MinHash
 * index, asserting:
 *
 *  - every node runs green at scale, with scale-safe physical plans
 *    (no cartesian product, no single-partition exchange) on the compute
 *    lineage of each heavy node;
 *  - exact dedup halves the duplicated batch exactly;
 *  - the planted near-dup families (1-in-500 distinct texts carry a
 *    ` zz`-suffixed variant, shingle Jaccard ~0.94 — detection odds per
 *    family 1 - (1-J^4)^16 ≈ 1-3e-10 at the default 16x4 bands) are ALL
 *    removed by the LSH -> connected-components branch; spurious
 *    removals are bounded at 1-in-4000 docs (band flukes over 1.8e11
 *    candidate pairs are real LSH behavior, not a bug — the synthetic
 *    words are md5-derived precisely to keep that background small);
 *  - batch 2's re-crawled half (texts already absorbed into the index by
 *    batch 1) is dropped ENTIRELY by the `minhash_index_dedup` gate
 *    without re-reading batch-1 text, while its new half all survives;
 *  - the index grows by exactly the surviving documents.
 *
 * Tagged Soak; the only YAML edits are the data path, the classifier's
 * iteration count (20 -> 4, a soak-speed knob), and batch 2's DSIR target
 * id range (batch-2 ids live at +10M).
 */
class TrainingSoakSpec extends SparkSpec {

  import spark.implicits._

  // ~2M docs total across the two batches
  private val N1 = 1200000L // batch 1 rows (2x duplicated -> 600k distinct)
  private val D1 = N1 / 2
  private val N2 = 800000L  // batch 2: 400k new + 400k re-crawled

  /** "sw1 w1 w2 w3 w4 sw2 w5 ... w10" — 12 words, 2 gopher-satisfying
    * stopwords ROTATED per seed (a fixed template word would put shared
    * char-shingles at the stopword boundaries in every doc — enough, over
    * 1.8e11 pairs, for the 16x4 LSH bands to surface ~1k spurious
    * candidates; rotation drops the background Jaccard to ~1e-4) and
    * md5-derived LETTER-ONLY words (digits would be rewritten to `<NUM>`
    * by the pipeline's PII scrub, creating corpus-wide shared shingles). */
  private def textOf(seed: Column): Column = {
    val stops = array(graft.functions.TextAnalysis.StopWords.map(lit): _*)
    val nStops = graft.functions.TextAnalysis.StopWords.size
    def sw(salt: Int) =
      element_at(stops, (pmod(seed * (2 * salt + 1) + salt, lit(nStops)) + 1).cast("int"))
    def w(i: Int) =
      translate(substring(md5(concat(lit(i.toString), lit("-"),
        seed.cast("string"))), 1, 8), "0123456789", "ghijklmnop")
    concat_ws(" ", sw(1) +: (1 to 4).map(w) :+ sw(2) :+
      w(5) :+ w(6) :+ w(7) :+ w(8) :+ w(9) :+ w(10): _*)
  }

  /** Distinct-text family j: texts j with j%1000==1 are the ` zz` near-dup
    * of family j-1; everything else is its own family. */
  private def familyText(j: Column): Column =
    when(j % 1000 === 1, concat(textOf(j - 1), lit(" zz")))
      .otherwise(textOf(j))

  private def writeDocs(path: String, df: DataFrame): Unit =
    df.withColumn("lang", when(col("doc_id") % 10 < 7, "en").otherwise("de"))
      .withColumn("source", lit("soak"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(path)

  private def loadYaml(dataDir: String, out: String,
                       dsirCutoff: Long): Pipeline.PipelineConfig = {
    val yaml = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("examples/training_data/project.yaml")), "UTF-8")
      .replace("${OUT}", out)
      .replace("/root/testdata/sf0.001", dataDir)
      .replace("max_iter: 20", "max_iter: 4")
      .replace("doc_id < 20", s"doc_id < $dsirCutoff")
    YamlConfig.loadPipeline(yaml)
  }

  private def assertScaleSafe(results: Map[String, Pipeline.NodeResult],
                              nodes: Seq[String]): Unit =
    nodes.foreach { n =>
      val r = results(n)
      val a = PlanAudit.audit(r.lineageDf.getOrElse(r.df))
      assert(a.numCartesianProducts == 0, s"$n: cartesian product in plan")
      assert(a.numSinglePartitionExchanges == 0, s"$n: single-partition funnel")
    }

  // the run writes ~1.5 GB under these; a suite that left them behind
  // would fill a shared temp volume within a few runs
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

  test("training_data pipeline e2e at 2M docs: two crawl batches through one minhash index", Soak) {
    val out = tempDir("tsoak_out")
    val data1 = tempDir("tsoak_d1")
    val data2 = tempDir("tsoak_d2")

    // batch 1: every distinct text appears exactly twice
    writeDocs(s"$data1/documents.parquet", spark.range(N1)
      .select(col("id").as("doc_id"), familyText(col("id") % D1).as("text")))

    val r1 = Pipeline.run(spark, loadYaml(data1, out, 20L))
    val failed1 = r1.values.filter(_.failure.isDefined)
    assert(failed1.isEmpty,
      failed1.map(r => s"${r.name}: ${r.failure.get}").mkString("; "))
    assertScaleSafe(r1, Seq("scored", "deduped", "near_dup_pairs", "near_deduped",
      "crawl_gate", "span_cleaned", "quality_audit", "domain_selected", "packed"))

    // exact dedup: precisely one winner per duplicated body
    val deduped1 = spark.read.parquet(s"$out/clean/deduped")
    assert(deduped1.count() == D1, s"exact dedup should keep $D1")

    // near-dup branch: EVERY planted ` zz` family pair (j, j+1) with
    // j%1000==0 must be recalled (per-family miss odds (1-J^4)^16 ~ 3e-10
    // at J~0.93), and spurious removals stay under 1 in 4,000 docs (LSH
    // on 1.8e11 pairs legitimately surfaces a handful of band flukes even
    // at background J ~ 1e-2; connected components then drops one doc per
    // fluke pair).
    val plantedFamilies = (D1 + 999) / 1000
    val pairs1 = spark.read.parquet(s"$out/clean/near_dup_pairs")
    assert(pairs1.filter(col("a") % 1000 === 0 && col("b") === col("a") + 1)
      .count() == plantedFamilies, "a planted near-dup family was missed")
    val nearDeduped1 = spark.read.parquet(s"$out/clean/near_deduped")
    val removed1 = D1 - nearDeduped1.count()
    assert(removed1 >= plantedFamilies && removed1 <= plantedFamilies + D1 / 4000,
      s"cluster dedup removed $removed1; planted $plantedFamilies, " +
        s"spurious tolerance ${D1 / 4000}")

    // bootstrap gate: in-batch near-dups are already gone, so the gate
    // indexes (nearly) every survivor; the index holds exactly the survivors
    val gate1 = spark.read.parquet(s"$out/clean/crawl_gate")
    val gate1Count = gate1.count()
    assert(gate1Count >= nearDeduped1.count() - D1 / 4000 &&
      gate1Count <= nearDeduped1.count(),
      s"bootstrap gate kept $gate1Count of ${nearDeduped1.count()}")
    assert(spark.read.parquet(s"$out/index/minhash/sigs").count() == gate1Count)

    // downstream stages kept every surviving doc
    assert(spark.read.parquet(s"$out/clean/span_cleaned").count() == gate1Count)
    val stats1 = spark.read.parquet(s"$out/train/stats").collect()(0)
    assert(stats1.getAs[Long]("n_docs") == D1) // packed runs off `deduped`
    assert(stats1.getAs[Long]("total_tokens") > 0)

    // batch 2: new half at ids 10M+ (fresh seeds), re-crawled half at ids
    // 20M+ reproducing batch-1 texts (including their family structure)
    val newHalf = spark.range(N2 / 2).select(
      (col("id") + 10000000L).as("doc_id"),
      textOf(col("id") + 10000000L).as("text"))
    val recrawled = spark.range(N2 / 2).select(
      (col("id") + 20000000L).as("doc_id"), familyText(col("id")).as("text"))
    writeDocs(s"$data2/documents.parquet", newHalf.union(recrawled))

    val r2 = Pipeline.run(spark, loadYaml(data2, out, 10000020L))
    val failed2 = r2.values.filter(_.failure.isDefined)
    assert(failed2.isEmpty,
      failed2.map(r => s"${r.name}: ${r.failure.get}").mkString("; "))
    assertScaleSafe(r2, Seq("deduped", "near_dup_pairs", "crawl_gate"))

    // the incremental-crawl contract: every re-crawled doc dies (identical
    // text -> identical signature -> certain detection, in-batch or at the
    // gate) — leakage here must be EXACTLY zero; new docs survive modulo
    // the same fluke tolerance
    val gate2 = spark.read.parquet(s"$out/clean/crawl_gate")
    val gate2Count = gate2.count()
    assert(gate2.filter(col("doc_id") >= 20000000L).count() == 0,
      "re-crawled docs leaked through the minhash index gate")
    assert(gate2Count >= N2 / 2 - N2 / 4000 && gate2Count <= N2 / 2,
      s"new docs surviving: $gate2Count of ${N2 / 2}")

    // the index grew by exactly the batch-2 survivors
    assert(spark.read.parquet(s"$out/index/minhash/sigs").count() ==
      gate1Count + gate2Count)
  }
}
