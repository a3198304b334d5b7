package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** One benchmark run:
  * `--workload bootstrap|live_tail|curation --seed N --seconds S --trace 0|1`.
  * Prints the metrics one per line, then, as the last line, one JSON object
  * with `correct`, `attempted`, `failed` and `metrics` (the end-to-end
  * metrics untraced, the per-layer metrics traced). */
object Main {
  val WorkloadNames = Seq("bootstrap", "live_tail", "curation")

  /** The end-to-end metrics every workload reports, and which of its own
    * measurements fills each: the throughput and latency a user of that
    * workload waits on. */
  val Gate: Map[String, (String, String)] = Map(
    "bootstrap" -> ("snapshot_rows_per_s", "catchup_ms"),
    "live_tail" -> ("catchup_events_per_s", "tail_lag_p50_ms"),
    "curation" -> ("curation_docs_per_s", "curation_ms"))

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a.getOrElse("workload", "")
    require(WorkloadNames.contains(workload), s"--workload must be one of ${WorkloadNames.mkString(", ")}")
    val seed = a.getOrElse("seed", "1").toLong
    val seconds = a.getOrElse("seconds", "10").toInt
    val trace = a.getOrElse("trace", "0") == "1"
    val launchMs = sys.props.get("perfbench.launchMs").map(_.toLong)
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val base = Paths.get(sys.props.getOrElse("perfbench.dir", ".")).toAbsolutePath
    val work = base.resolve(".work")
    Workloads.deleteTree(work)
    Files.createDirectories(work)

    // Spark gets half the vCPUs, so that on a shared host the thread that
    // plans and commits each batch, the generator, GC and JIT find an idle
    // vCPU instead of queueing behind the task threads.
    val nproc = Runtime.getRuntime.availableProcessors
    val cores = math.max(1, nproc / 2)
    val spark = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - launchMs) / 1000.0

    val c = new Ctx(spark, work, seed, seconds, cores, new Tracer(trace))
    val res = new Result
    try workload match {
      case "bootstrap" => Workloads.bootstrap(c, res)
      case "live_tail" => Workloads.liveTail(c, res)
      case "curation"  => Workloads.curation(c, res)
    } catch { case e: Exception => res.attempted = math.max(res.attempted, 1); res.fail(s"$workload threw $e") }

    val setupS = sessionS + res.setupOnceS + (if (res.setupRepeatS.isEmpty) 0.0 else Stats.median(res.setupRepeatS.toSeq))
    res.e2e("setup_s") = (setupS, "s")
    res.e2e("peak_rss_mb") = (peakRssMb(), "MB")
    res.e2e("failed_frac") = (if (res.attempted == 0) 1.0 else res.failed.toDouble / res.attempted, "ratio")
    val (tput, lat) = Gate(workload)
    val gate = Seq(
      "throughput_per_s" -> (res.e2e.get(tput).map(_._1).getOrElse(0.0), "1/s"),
      "latency_ms" -> (res.e2e.get(lat).map(_._1).getOrElse(0.0), "ms"),
      "setup_s" -> res.e2e("setup_s"))
    if (trace) {
      res.layer("trace.throughput_per_s") = (gate(0)._2._1, "1/s")
      res.layer("trace.latency_ms") = (gate(1)._2._1, "ms")
      res.layer("jvm.peak_rss_mb") = res.e2e("peak_rss_mb")
      Layers.fillMissing(res)
      c.tr.write(base.resolve(".traces").resolve(s"$workload-seed$seed.jsonl"))
    }

    println(s"perfbench $workload seed=$seed seconds=$seconds trace=${if (trace) 1 else 0} local[$cores] of $nproc vCPUs")
    res.notes.foreach(n => println(s"  note: $n"))
    println(f"  session_start_s = $sessionS%.3f s")
    res.e2e.foreach { case (n, (v, u)) => println(f"  $n = $v%.4f $u") }
    println(s"  throughput_per_s <- $tput, latency_ms <- $lat")
    if (trace) res.layer.foreach { case (n, (v, u)) => println(f"  $n = $v%.4f $u") }
    val metrics = (if (trace) res.layer.toSeq else gate)
      .map { case (n, (v, u)) => s""""$n": {"value": ${jsonNum(v)}, "unit": "$u"}""" }
    val correct = res.correct && res.failed == 0
    println(s"""{"correct": $correct, "attempted": ${math.max(res.attempted, 1)}, "failed": ${res.failed}, """ +
      s""""metrics": {${metrics.mkString(", ")}}}""")
    System.out.flush()
    spark.stop()
    Workloads.deleteTree(work)
    System.exit(0)
  }

  private def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** High-water resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}
