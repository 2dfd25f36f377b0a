package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One metric as printed: value plus unit. */
final case class Metric(value: Double, unit: String)

object Pct {
  /** Nearest-rank percentile; failed ops are +Inf, so they count as
    * missing any latency limit instead of vanishing from the sample. */
  def apply(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  /** p90 is reported only when at least 10 samples lie beyond it. */
  def p90(xs: Seq[Double]): Option[Double] =
    if (xs.size >= 100) Some(apply(xs, 0.9)) else None
}

/** Exec-layer totals of one op, from the benchmark's SparkListener. */
final class ExecTotals {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var cpuNs = 0L; var gcMs = 0L; var input = 0L; var output = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Records per-op Spark work. Jobs are attributed to an op through the
  * `perfbench.op` local property the benchmark sets around each call,
  * so events that arrive late on the listener bus still land on the
  * right op. */
final class ExecListener extends SparkListener {
  private val byOp = new ConcurrentHashMap[String, ExecTotals]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val jobOp = new ConcurrentHashMap[Int, (String, Long)]()
  @volatile var events = 0L

  private def tot(op: String) = byOp.computeIfAbsent(op, _ => new ExecTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events += 1
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(ExecListener.OpKey)))
    op.foreach { o =>
      jobOp.put(e.jobId, (o, e.time))
      e.stageIds.foreach(s => stageOp.put(s, o))
      val t = tot(o); t.synchronized { t.jobs += 1 }
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events += 1
    Option(jobOp.remove(e.jobId)).foreach { case (o, start) =>
      val t = tot(o); t.synchronized { t.jobSpans += ((start, e.time)) }
    }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    events += 1
    Option(stageOp.get(e.stageInfo.stageId)).foreach { o =>
      val t = tot(o); t.synchronized { t.stages += 1 }
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events += 1
    Option(stageOp.get(e.stageId)).foreach { o =>
      val t = tot(o)
      val m = e.taskMetrics
      t.synchronized {
        t.tasks += 1
        if (m != null) {
          t.cpuNs += m.executorCpuTime
          t.gcMs += m.jvmGCTime
          t.input += m.inputMetrics.bytesRead
          t.output += m.outputMetrics.bytesWritten
          t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }
  def totals(op: String): Option[ExecTotals] = Option(byOp.get(op))
}

object ExecListener { val OpKey = "perfbench.op" }

/** Catalyst phase times of every query execution, keyed by the phase's
  * start so each lands in the op whose wall interval holds it. */
final class PhaseListener extends QueryExecutionListener {
  val phases = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.tracker.phases.foreach { case (name, s) =>
      phases.add((s.startTimeMs, name, s.durationMs))
    }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** One timed call into the engine. `spans` are the layer spans recorded
  * inside it on traced rounds: (layer.name, start ns, end ns). */
final case class OpRecord(id: String, kind: String, traced: Boolean,
    startMs: Long, endMs: Long, wallMs: Double, ok: Boolean, error: String,
    spans: Seq[(String, Long, Long)], extra: Map[String, Double])

/** The closed-loop client's bookkeeping: every attempted op, its
  * latency, its failure, and on traced rounds its spans. */
final class Recorder(spark: SparkSession, val trace: Boolean) {
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  val failures = mutable.ArrayBuffer.empty[String]
  val execL = new ExecListener
  val phaseL = new PhaseListener
  private var seq = 0
  // spans of the op in flight
  private var curSpans = mutable.ArrayBuffer.empty[(String, Long, Long)]
  /** Whether the current round records spans (traced runs alternate
    * traced and untraced rounds, which gives the tracing overhead). */
  var tracedRound = false

  if (trace) {
    spark.sparkContext.addSparkListener(execL)
    spark.listenerManager.register(phaseL)
  }

  /** A layer span inside the op in flight; a plain call when untraced. */
  def span[T](name: String)(body: => T): T =
    if (!tracedRound) body
    else {
      val t0 = System.nanoTime()
      try body finally curSpans += ((name, t0, System.nanoTime()))
    }

  /** Attach a traced-round observation to the op recorded last. */
  def note(key: String, v: Double): Unit =
    if (tracedRound && ops.nonEmpty) {
      val last = ops.last
      ops(ops.size - 1) = last.copy(extra = last.extra + (key -> v))
    }

  /** Run one op: time `call`, then check its result outside the timed
    * window. A throw, a result that fails `check`, or a call slower
    * than `Recorder.OpTimeoutMs` marks the op failed. */
  def op[T](kind: String)(call: => T)(check: T => Option[String]): Option[T] = {
    seq += 1
    val id = s"$kind#$seq"
    curSpans = mutable.ArrayBuffer.empty
    val sc = spark.sparkContext
    sc.setLocalProperty(ExecListener.OpKey, id)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try Right(call) catch { case e: Throwable => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e6
    val endMs = System.currentTimeMillis()
    sc.setLocalProperty(ExecListener.OpKey, null)
    val err = res match {
      case Left(e) => Some(s"threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      case Right(v) =>
        val c = try check(v) catch { case e: Throwable => Some(s"check threw $e") }
        c.orElse(if (wall > Recorder.OpTimeoutMs) Some(f"timed out: $wall%.0f ms > ${Recorder.OpTimeoutMs} ms") else None)
    }
    err.foreach { m =>
      if (failures.size < 50) failures += s"$id: $m"
      System.err.println(s"[perfbench] FAILED $id: $m")
    }
    ops += OpRecord(id, kind, tracedRound, startMs, endMs, wall, err.isEmpty,
      err.getOrElse(""), curSpans.toSeq, Map.empty)
    res.toOption.filter(_ => err.isEmpty)
  }

  def attempted: Long = ops.size.toLong
  def failed: Long = ops.count(!_.ok).toLong

  /** Latencies of `kinds`, failed ops as +Inf. */
  def lat(kinds: String*): Seq[Double] = {
    val ks = kinds.toSet
    ops.filter(o => ks(o.kind)).map(o => if (o.ok) o.wallMs else Double.PositiveInfinity).toSeq
  }

  /** Wait until the listener bus has gone quiet, so per-op exec totals
    * are complete before they are read. */
  def drain(): Unit = if (trace) {
    var last = -1L; var stable = 0
    while (stable < 3) {
      Thread.sleep(100)
      val now = execL.events + phaseL.phases.size
      if (now == last) stable += 1 else { stable = 0; last = now }
    }
  }
}

object Recorder {
  /** An op slower than this counts as failed (the run itself is killed
    * at 170 s by run.py). */
  val OpTimeoutMs = 60000L
}
