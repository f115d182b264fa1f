package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/**
 * Per-file constant columns of the [[MetaScan]] file index: filters on
 * them prune files (and must, since Spark does not re-apply them after
 * the scan), they survive joins and unions, and a scan that stats its
 * files (non-positive sizes) carries them too.
 */
class MetaScanSpec extends graft.SparkSpec {
  import spark.implicits._

  private val dataSchema = StructType(Seq(StructField("id", LongType)))
  private val constants = StructType(Seq(
    StructField("_gf_tag", StringType), StructField("_gf_n", LongType)))

  /** Three single-file parquet datasets: ids [0,10) tagged "a", [10,20)
    * "b", [20,30) "c"; `_gf_n` numbers the files 1..3. */
  private def files(): Seq[MetaScan.KnownFile] = {
    val dir = Files.createTempDirectory("metascan").toFile
    Seq("a", "b", "c").zipWithIndex.map { case (tag, i) =>
      val out = new java.io.File(dir, tag).toString
      (i * 10L until (i + 1) * 10L).toDF("id").coalesce(1).write.parquet(out)
      val f = new java.io.File(out).listFiles().find(_.getName.endsWith(".parquet")).get
      MetaScan.KnownFile(f.getPath, f.length(), constants = Seq(tag, i + 1L))
    }
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").as[Long].collect().sorted.toSeq

  test("a filter on constants alone returns exactly the matching files' rows") {
    val scan = MetaScan.parquetScan(spark, dataSchema, files(), constants)
    assert(scan.columns.toSeq == Seq("id", "_gf_tag", "_gf_n"))
    val b = scan.filter(col("_gf_tag") === "b")
    // the planner hands this predicate to the index and drops it from
    // the filters it runs after the scan
    val plan = b.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(_gf_tag"), plan)
    assert(ids(b) == (10L until 20L))
    assert(ids(scan.filter(col("_gf_n") >= 2L)) == (10L until 30L))
    assert(ids(scan.filter(col("_gf_tag") === "c" && col("id") > 25L)) == (26L until 30L))
    assert(scan.filter(col("_gf_tag") === "z").count() == 0)
  }

  test("constants survive a join and a union") {
    val fs = files()
    val scan = MetaScan.parquetScan(spark, dataSchema, fs, constants)
    val other = (0L until 30L).map(i => (i, i * 2)).toDF("id", "twice")
    val joined = scan.join(other, Seq("id"))
      .filter(col("twice") > 30L).select("id", "_gf_tag")
    assert(joined.as[(Long, String)].collect().sorted.toSeq ==
      (16L until 30L).map(i => (i, if (i < 20) "b" else "c")))
    // the same file read under two constant rows: two copies, each
    // stamped with its own values
    val relabeled = MetaScan.parquetScan(spark, dataSchema,
      Seq(fs.head, fs.head.copy(constants = Seq("a2", 9L))), constants)
    val unioned = scan.filter(col("_gf_n") === 1L).union(relabeled)
    assert(unioned.groupBy("_gf_tag").count().as[(String, Long)].collect().toMap ==
      Map("a" -> 20L, "a2" -> 10L))
  }

  test("a scan that stats its files still carries their constants") {
    val unsized = files().map(_.copy(size = 0L))
    val scan = MetaScan.parquetScan(spark, dataSchema, unsized, constants)
    assert(scan.groupBy("_gf_tag").agg(min("id"), max("id"))
      .as[(String, Long, Long)].collect().sorted.toSeq ==
      Seq(("a", 0L, 9L), ("b", 10L, 19L), ("c", 20L, 29L)))
    assert(ids(scan.filter(col("_gf_tag") =!= "b")) == ((0L until 10L) ++ (20L until 30L)))
  }

  test("iceberg deletes through the generation-split union") {
    // a rename splits the files into two scan legs joined by a union;
    // position deletes plan from and apply through the constants of both
    val root = Files.createTempDirectory("metascan_ice").toString + "/t"
    val flat = (ids: Range) => ids.map(i => (i.toLong, i * 1.5)).toDF("id", "acct")
    IcebergSource.write(flat(1 to 100).repartition(2), root)
    IcebergMaintenance.renameColumn(spark, root, "acct", "balance")
    IcebergSource.write(
      flat(101 to 200).withColumnRenamed("acct", "balance").repartition(2),
      root, mode = "append")
    assert(IcebergSource.read(spark, root).queryExecution.executedPlan.toString
      .contains("Union"))
    assert(IcebergSource.delete(spark, root, "id % 10 = 0").deletedRows == 20)
    assert(IcebergSource.delete(spark, root, "id % 10 = 0 OR id <= 5").deletedRows == 5)
    val got = IcebergSource.read(spark, root)
    val want = (1 to 200).filter(i => i % 10 != 0 && i > 5)
    assert(ids(got) == want.map(_.toLong))
    assert(got.select(sum("balance")).first().getDouble(0) == want.map(_ * 1.5).sum)
  }
}
