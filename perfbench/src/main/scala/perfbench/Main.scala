package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.core.GraftSession

/** One benchmark workload. The runner builds its fixture, warms every op
  * kind up, then runs `step(0)`, `step(1)`, ... of a fixed cyclic op
  * schedule in a closed loop until the window closes, so every run
  * executes a prefix of the same op sequence. */
trait Workload {
  def setup(): Unit
  /** Runs every op kind at least once; leaves the fixture measurable. */
  def warmup(): Unit
  /** Steps in one cycle of the op schedule. */
  def cycle: Int
  def step(i: Int): Unit
  /** Work after the window: final checks and size measurements. */
  def finish(): Unit
  /** Op kinds whose latency is the workload's `op_p50_ms`. */
  def foreground: Seq[String]
  /** Workload-specific metrics for the human-readable report; in a
    * traced run also the per-layer JSON. */
  def metrics(traced: Boolean): Map[String, Metric]
}

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --workdir <dir> --out <file>`. Prints every metric with its unit,
  * writes the result object to `--out`, writes the traced run's spans
  * next to it, and exits 1 when any correctness check failed. */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = kv("workload")
    val seed = kv("seed").toLong
    val seconds = kv("seconds").toDouble
    val trace = kv.getOrElse("trace", "0") == "1"
    val workdir = kv("workdir")
    val out = kv("out")
    val cpus = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.local.dir", s"$workdir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workdir/warehouse")
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.graft.root", s"$workdir/catalog")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = (System.nanoTime() - t0) / 1e6

    val rec = new Recorder(spark, trace)
    val wl: Workload = workload match {
      case "array_reads" => new ArrayReads(spark, seed, workdir, rec)
      case "array_writes" => new ArrayWrites(spark, seed, workdir, rec)
      case "corpus_index" => new CorpusIndex(spark, seed, workdir, rec)
      case other => sys.error(s"unknown workload $other")
    }

    // ---- set-up: fixture builds and warm-up stay out of the window
    def timed(f: => Unit): Double = { val s = System.nanoTime(); f; (System.nanoTime() - s) / 1e9 }
    val buildS = timed(wl.setup())
    val warmS = timed(wl.warmup())
    println(f"[perfbench] session $sessionMs%.0f ms, fixture build $buildS%.2f s, warm-up $warmS%.2f s")
    println("[perfbench] warm-up ops: " + rec.ops.map(o => f"${o.kind}=${o.wallMs}%.0f").mkString(" "))
    // warm-up ops are checked and counted, but are not part of the measured sample
    val (setupAttempted, setupFailed) = (rec.attempted, rec.failed)
    rec.ops.clear()
    val setupS = sessionMs / 1e3 + buildS + warmS

    // ---- measuring window: closed loop, one client
    val cpu0 = Core.cpuTicks()
    val win0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - win0) / 1e9 < seconds) {
      // traced runs alternate traced and untraced cycles
      rec.tracedRound = trace && (i / wl.cycle) % 2 == 0
      wl.step(i)
      i += 1
    }
    val windowS = (System.nanoTime() - win0) / 1e9
    val cpu1 = Core.cpuTicks()
    val windowOps = rec.ops.size
    // after-window ops are traced whole in a traced run
    rec.tracedRound = trace
    wl.finish()
    rec.tracedRound = false
    rec.drain()

    val failedOps = rec.failed + setupFailed
    val attempted = rec.attempted + setupAttempted
    val e2e = mutable.LinkedHashMap[String, Metric](
      "setup_s" -> Metric(setupS, "s"),
      "op_p50_ms" -> Metric(Pct.median(rec.lat(wl.foreground: _*)), "ms"),
      "rss_peak_mb" -> Metric(Core.vmHwmMb(), "MB"))

    val layer = mutable.LinkedHashMap[String, Metric]()
    layer ++= wl.metrics(trace)
    layer("error_rate") = Metric(failedOps.toDouble / math.max(1L, attempted), "ratio")
    layer("core.session_start_ms") = Metric(sessionMs, "ms")
    layer("core.fixture_build_ms") = Metric(buildS * 1e3, "ms")
    layer("core.heap_after_gc_mb") = Metric(Core.heapAfterGcMb(), "MB")
    // share of the host's CPU time taken by other guests during the
    // window: run-to-run noise on a shared machine shows up here
    layer("core.cpu_steal_ratio") = Metric(
      (cpu1(7) - cpu0(7)).toDouble / math.max(1L, cpu1.sum - cpu0.sum), "ratio")
    if (trace) layer ++= Layers.common(rec, wl.foreground)

    println(f"[perfbench] workload=$workload seed=$seed window=$windowS%.1f s steps=$i " +
      s"ops=$attempted failed=$failedOps traced=$trace")
    (e2e ++ layer).foreach { case (k, m) => println(f"[perfbench]   $k%-40s ${m.value}%14.4f ${m.unit}") }
    println("[perfbench] window ops: " + rec.ops.take(windowOps).map(o => f"${o.kind}=${o.wallMs}%.0f").mkString(" "))
    rec.failures.foreach(f => println(s"[perfbench] failure: $f"))

    val metrics = if (trace) layer.toMap else e2e.toMap
    val ok = failedOps == 0
    val json = Json.obj(Seq(
      "correct" -> Json.bool(ok), "attempted" -> attempted.toString,
      "failed" -> failedOps.toString,
      "metrics" -> Json.obj(metrics.toSeq.sortBy(_._1).map { case (k, m) =>
        k -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))
      })))
    val tmp = new java.io.File(out + ".tmp")
    java.nio.file.Files.writeString(tmp.toPath, json)
    tmp.renameTo(new java.io.File(out))
    if (trace) Layers.writeSpans(rec, out.stripSuffix(".json") + ".spans.json")
    spark.stop()
    sys.exit(if (ok) 0 else 1)
  }
}

object Core {
  /** The aggregate `cpu` line of /proc/stat (user, nice, system, idle,
    * iowait, irq, softirq, steal, ...), in clock ticks. */
  def cpuTicks(): Array[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+").drop(1).take(8).map(_.toLong)
    finally src.close()
  }

  /** Peak resident set of this JVM (Spark runs in-process in local mode). */
  def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }
  def bytesUnder(spark: SparkSession, p: String): Double = {
    val path = new org.apache.hadoop.fs.Path(p)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(path).getLength.toDouble
  }
  def heapAfterGcMb(): Double = {
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / 1048576.0
  }
}

/** Minimal JSON writing for the result object. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def bool(b: Boolean): String = b.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}
