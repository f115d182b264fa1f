package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/**
 * The JVM half of the benchmark: sets the session up, runs one workload
 * as a closed loop (one client) for the requested seconds, and writes
 * every sample, span and listener record to a JSON result file. The
 * Python side (`perfbench/run.py`) generates the inputs beforehand and
 * checks the outputs and computes the metrics afterwards.
 *
 * usage: graftbench.Main --workload W --seconds S --trace 0|1 --bench BENCH_DIR
 *                        --in INPUT_DIR --work WORK_DIR --out RESULT.json [--cores N]
 */
object Main {

  final case class Args(workload: String, seconds: Double, trace: Boolean,
                        in: String, work: String, out: String, cores: Int,
                        benchDir: String)

  /** One measured operation: a pipeline node, a table commit, a read or
    * a stream drain (and, as kind "lag", a commit's change-feed lag). */
  final case class Op(run: Int, kind: String, name: String, seconds: Double, ok: Boolean)

  /** What a workload loop hands back. */
  final class Recorder {
    val ops = ArrayBuffer.empty[Op]
    val runs = ArrayBuffer.empty[Map[String, Any]]
    val counts = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val facts = scala.collection.mutable.Map.empty[String, Any]
    var heapPeakMb = 0.0

    def count(k: String, v: Double): Unit = counts(k) += v

    /** Time `body` as one operation of `kind`. */
    def op[T](run: Int, kind: String, name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      ops += Op(run, kind, name, (System.nanoTime() - t0) / 1e9, ok = true)
      r
    }

    /** Driver heap in use right after a full collection: the sum of the
      * heap pools' post-GC usage, which excludes garbage and objects other
      * threads allocate after the collection. */
    def sampleHeap(): Unit = {
      def usedAfterGc(): Double = {
        System.gc()
        java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP)
          .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
      }
      // Spark's ContextCleaner releases shuffle and broadcast state only
      // after a collection found their RDDs unreachable, on its own
      // thread: collect again until the figure stops falling
      var prev = usedAfterGc()
      var used = prev
      var rounds = 0
      do {
        prev = used
        Thread.sleep(200)
        used = usedAfterGc()
        rounds += 1
      } while (prev - used > 1.0 && rounds < 8)
      heapPeakMb = math.max(heapPeakMb, used)
    }
  }

  private def parse(argv: List[String], m: Map[String, String]): Map[String, String] = argv match {
    case k :: v :: rest if k.startsWith("--") => parse(rest, m + (k.drop(2) -> v))
    case Nil => m
    case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Session up and a warm-up action done, `rounds` times; the last
    * session stays up. Returns the session and each round's seconds. */
  def setup(a: Args, rounds: Int): (SparkSession, Seq[Double]) = {
    val times = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until rounds) {
      val t0 = System.nanoTime()
      spark = session(a.cores, a.work)
      spark.range(0, 200000, 1, a.cores).selectExpr("sum(id)", "count(*)").collect()
      times += (System.nanoTime() - t0) / 1e9
      if (i < rounds - 1) spark.stop()
    }
    (spark, times.toSeq)
  }

  def main(argv: Array[String]): Unit = {
    val m = parse(argv.toList, Map.empty)
    val a = Args(m("workload"), m("seconds").toDouble, m("trace") == "1",
      m("in"), m("work"), m("out"),
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      m("bench"))
    val (spark, setupTimes) = setup(a, rounds = 3)
    if (a.trace) Listeners.install(spark)
    val rec = new Recorder
    val workload: Workload = a.workload match {
      case "pipeline_batch" => new PipelineBatch(spark, a, rec)
      case "corpus_curation" => new CorpusCuration(spark, a, rec)
      case "lakehouse_cdc" => new LakehouseCdc(spark, a, rec)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tPrep = System.nanoTime()
    workload.prepare()
    val prepS = (System.nanoTime() - tPrep) / 1e9

    // closed loop: the next run starts when the previous one completed.
    // Run 0 pays the cold JVM and is not timed. With tracing, runs 3, 5,
    // ... are traced, each between two untraced warm runs (run 1 is the
    // first to take the steady-state code paths, so it is slower); every
    // run of a workload does the same kinds of work, so they compare
    val minRuns = if (a.trace) 5 else workload.minRuns
    val loopStart = System.nanoTime()
    var run = 0
    def lastTraced = a.trace && run > 3 && (run - 1) % 2 == 1
    while ((run < minRuns || lastTraced ||
            (System.nanoTime() - loopStart) / 1e9 < a.seconds) && run < workload.maxRuns) {
      val traced = a.trace && run >= 3 && run % 2 == 1
      workload.beforeRun(run)
      if (a.trace) Listeners.drain(spark)
      Tracer.beginRun(run)
      Tracer.enabled = traced
      val t0 = System.nanoTime()
      Tracer.span(spark, "run") { workload.runOnce(run) }
      val wall = (System.nanoTime() - t0) / 1e9
      Tracer.enabled = false
      if (a.trace) Listeners.drain(spark)
      rec.runs += Map("run" -> run, "seconds" -> wall, "traced" -> traced)
      workload.afterRun(run)
      if (run > 0) rec.sampleHeap()
      run += 1
    }
    val loopS = (System.nanoTime() - loopStart) / 1e9
    val tFinish = System.nanoTime()
    workload.finish(run)
    val finishS = (System.nanoTime() - tFinish) / 1e9

    val result = Map(
      "workload" -> a.workload, "cores" -> a.cores,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "setup_s" -> setupTimes, "prep_s" -> prepS, "loop_s" -> loopS, "finish_s" -> finishS,
      "runs" -> rec.runs.toSeq,
      "ops" -> rec.ops.toSeq.map(o => Map("run" -> o.run, "kind" -> o.kind, "name" -> o.name,
        "seconds" -> o.seconds, "ok" -> o.ok)),
      "heap_peak_mb" -> rec.heapPeakMb,
      "counts" -> rec.counts.toMap, "facts" -> rec.facts.toMap,
      "spans" -> Tracer.spans.asScala.toSeq,
      "jobs" -> Listeners.jobRecords, "executions" -> Listeners.executionRecords,
      "queries" -> Listeners.queryRecords)
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(Paths.get(a.out), mapper.writeValueAsBytes(result))
    spark.stop()
  }

  // ------------------------------------------------------------ helpers

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toSeq.reverse
    all.foreach(Files.delete)
  }

  /** Total bytes and count of the regular files under `root`. */
  def treeFiles(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => f.toString -> Files.size(f)).toMap
  }
}

/** A workload: prepared once, then run repeatedly by the closed loop. */
trait Workload {
  /** Run 0 (cold) and the warm runs the end-to-end figures come from. */
  def minRuns: Int
  def maxRuns: Int
  def prepare(): Unit
  def beforeRun(run: Int): Unit = ()
  def runOnce(run: Int): Unit
  def afterRun(run: Int): Unit = ()
  /** After the loop, outside every timing: leave what the checks read. */
  def finish(runs: Int): Unit = ()
}
