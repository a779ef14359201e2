package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Everything a workload needs: the session, its seed and time budget,
  * the tracer, the oracle checker, and the metric sinks.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val trace: Tracer, val dir: String) {
  val check = new Checker
  val e2e = mutable.LinkedHashMap[String, Double]()
  val layer = mutable.LinkedHashMap[String, Double]()
  /** Human-readable extras printed before the result line. */
  val notes = mutable.ArrayBuffer[(String, Any)]()
  /** Spark task slots: half the cores, see [[Main.slots]]. */
  val slots: Int = spark.sparkContext.defaultParallelism
  def traced: Boolean = trace.enabled

  def now: Long = System.nanoTime()
  def sinceS(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def sinceMs(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Collect a search frame as (id, dist), split into the frame, plan
    * and execute layers. Untraced this is exactly `collect()`: the plan
    * call is the same work collect would do first.
    */
  def search(label: String, mk: => DataFrame): Seq[(Long, Double)] =
    trace.span(label) {
      val df = trace.span("store.frame")(mk)
      trace.span("spark.plan")(df.queryExecution.executedPlan)
      val rows = trace.span("spark.exec")(df.collect())
      if (traced) scans += Ctx.scanned(df.queryExecution.executedPlan)
      rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }

  /** (files, bytes, rows) the file scans of each traced search read. */
  val scans = mutable.ArrayBuffer[(Long, Long, Long)]()
}

object Ctx {
  /** (files, file bytes, output rows) summed over an executed plan's
    * file scans, from their SQL metrics.
    */
  def scanned(p: SparkPlan): (Long, Long, Long) = p match {
    case a: AdaptiveSparkPlanExec => scanned(a.executedPlan)
    case q: QueryStageExec => scanned(q.plan)
    case other =>
      val m = other.metrics
      val own =
        if (!m.contains("numFiles")) (0L, 0L, 0L)
        else (m("numFiles").value, m.get("filesSize").map(_.value).getOrElse(0L),
          m.get("numOutputRows").map(_.value).getOrElse(0L))
      other.children.map(scanned).foldLeft(own) { case ((a, b, c), (x, y, z)) =>
        (a + x, b + y, c + z)
      }
  }

  /** Bytes under a directory tree. */
  def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** (total, steal) jiffies over all CPUs, from the first line of /proc/stat. */
  def cpuJiffies(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (f.take(8).sum, if (f.length > 7) f(7) else 0L)
    } finally src.close()
  }

  def loadAvg1(): Double = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
  }
}

/** The metric names, units and directions; BENCHMARK.json lists the same. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "build_s" -> "s", "ingest_rows_per_s" -> "rows/s",
    "search_p50_ms" -> "ms", "search_p90_ms" -> "ms",
    "recall_at10" -> "ratio", "space_amp" -> "ratio", "peak_rss_mb" -> "MB")

  private val stores = Seq("lsh", "quant", "mt")
  private val kinds = StoreChurn.Kinds :+ "compact"

  val perLayer: Seq[(String, String)] = Seq(
    "max_qps_at_slo" -> "1/s", "mutation_p50_ms" -> "ms",
    "mutation_p90_ms" -> "ms", "churn_rows_per_s" -> "rows/s",
    "compact_s" -> "s",
    "server.decode_ms" -> "ms", "server.encode_ms" -> "ms",
    "server.ingest_decode_ms" -> "ms", "server.http_overhead_ms" -> "ms") ++
    RestServe.Ladder.map(r => s"server.queue_wait_ms.at${r}qps" -> "ms") ++ Seq(
    "lsh.candidates_us" -> "us", "store.snapshot_us" -> "us",
    "store.frame_ms" -> "ms", "store.recall_curve_us" -> "us",
    "spark.plan_ms" -> "ms", "spark.exec_ms" -> "ms",
    "spark.jobs_per_search" -> "count", "spark.stages_per_search" -> "count",
    "spark.tasks_per_search" -> "count",
    "spark.sched_delay_ms_per_search" -> "ms",
    "spark.executor_cpu_ms_per_search" -> "ms",
    "scan.files_per_search" -> "count", "scan.bytes_per_search" -> "bytes",
    "scan.rows_per_result" -> "ratio", "scan.decode_mb_per_s" -> "MB/s",
    "kernel.l2_ns_per_vector_dim" -> "ns",
    "kernel.adc_ns_per_code" -> "ns",
    "kernel.floor_ns_per_vector_dim" -> "ns",
    "quant.coarse_ms" -> "ms", "quant.rerank_ms" -> "ms") ++
    (for (s <- stores; k <- kinds; (m, u) <- Seq("ms" -> "ms",
      "jobs" -> "count", "bytes_written" -> "bytes"))
      yield s"store.$s.$k.$m" -> u) ++
    stores.map(s => s"store.$s.write_amp" -> "ratio") ++ Seq(
    "filelog.commits_per_mutation" -> "count") ++
    stores.map(s => s"filelog.$s.live_files" -> "count") ++ Seq(
    "filelog.read_us" -> "us", "filelog.footer_ms" -> "ms",
    "feedsync.net_ms" -> "ms", "feedsync.jobs" -> "count",
    "trace.spans_per_op" -> "count", "trace.span_cost_us" -> "us")
}

object Main {
  /** Spark task slots. Half the cores: the JIT and GC threads, the HTTP
    * dispatcher and the load generator get the other half, so a run on a
    * shared host measures the program rather than the CPU scheduler.
    */
  def slots(cores: Int): Int = math.max(1, cores / 2)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val traced = args.getOrElse("trace", "0") == "1"
    val dir = args("dir")
    val load0 = Ctx.loadAvg1()
    val cpu0 = Ctx.cpuJiffies()
    val cores = Runtime.getRuntime.availableProcessors

    val spark = SparkSession.builder()
      .master(s"local[${slots(cores)}]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", slots(cores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val trace = new Tracer(traced)
    trace.attach(spark.sparkContext)
    val c = new Ctx(spark, seed, seconds, trace, s"$dir/data")
    workload match {
      case "rest_serve" => RestServe.run(c)
      case "store_churn" => StoreChurn.run(c)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    c.e2e("peak_rss_mb") = Ctx.peakRssMb()
    if (traced) {
      c.layer("trace.span_cost_us") = spanCostUs()
      c.layer("trace.spans_per_op") =
        trace.spans.size.toDouble / math.max(1L, c.check.attempted)
    }
    val load1 = Ctx.loadAvg1()
    val cpu1 = Ctx.cpuJiffies()

    val provenance = Seq(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "revision" -> args.getOrElse("rev", "unknown"),
      "nproc" -> cores, "loadavg1_start" -> load0, "loadavg1_end" -> load1,
      "loaded" -> (load0 >= cores * 0.5),
      "cpu_steal_pct" -> 100.0 * (cpu1._2 - cpu0._2) / math.max(1L, cpu1._1 - cpu0._1),
      "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_master" -> spark.sparkContext.master,
      "spark_shuffle_partitions" ->
        spark.conf.get("spark.sql.shuffle.partitions"),
      "spark_aqe" -> spark.conf.get("spark.sql.adaptive.enabled"))
    println(Out.obj(Seq("provenance" -> provenance)))
    val chk = c.check
    println(Out.obj(Seq("workload_metrics" -> c.notes.toSeq,
      "ops_failed_ratio" -> chk.failed.toDouble / math.max(1L, chk.attempted))))
    chk.firstMismatch.foreach(m => println(s"FIRST MISMATCH: $m"))
    if (traced) {
      println(f"${"span"}%-28s ${"calls"}%6s ${"total_ms"}%10s ${"self_ms"}%10s")
      trace.selfTimes.foreach { case (n, calls, tot, self) =>
        println(f"$n%-28s $calls%6d $tot%10.1f $self%10.1f")
      }
      trace.dump(new File(args("spans"), s"$workload-seed$seed.jsonl"),
        Out.obj(Seq("provenance" -> provenance)))
    }

    val (names, sink) =
      if (traced) (Metrics.perLayer, c.layer) else (Metrics.endToEnd, c.e2e)
    spark.stop()
    println(resultLine(chk, names.map { case (n, unit) =>
      (n, sink.getOrElse(n, 0.0), unit) }))
  }

  /** The last stdout line: correctness verdict, operation counts and the
    * metrics as (name, value, unit).
    */
  def resultLine(chk: Checker, metrics: Seq[(String, Double, String)]): String =
    Out.obj(Seq("correct" -> (chk.failed == 0L),
      "attempted" -> chk.attempted, "failed" -> chk.failed,
      "metrics" -> Out.Raw(Out.obj(metrics.map { case (n, v, u) =>
        n -> Out.Raw(Out.obj(Seq("value" -> v, "unit" -> u)))
      }))))

  /** Cost of recording one span, in µs (a detached recorder: the job
    * property set that an attached one adds is a thread-local write).
    */
  private def spanCostUs(): Double = {
    val t = new Tracer(true)
    val n = 20000
    val t0 = System.nanoTime()
    var i = 0
    while (i < n) { t.span("x")(i); i += 1 }
    (System.nanoTime() - t0) / 1e3 / n
  }
}
