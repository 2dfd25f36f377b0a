package perfbench

import scala.collection.mutable

/** Per-layer numbers shared by every workload: Catalyst phases (`plans`),
  * Spark engine work per op type (`exec`), span coverage and the
  * tracing overhead. All come from traced rounds only. */
object Layers {

  /** Op kind -> exec op type; kinds not listed are not attributed. */
  val OpType: Map[String, String] = Map(
    "slice" -> "read", "points" -> "read", "cond" -> "read", "agg" -> "read",
    "time_travel" -> "read", "meta_agg" -> "read", "sql" -> "read", "mvcc_read" -> "read",
    "append" -> "append", "upsert" -> "append", "consolidate" -> "consolidate",
    "dedup_batch" -> "batch", "bm25_batch" -> "batch",
    "bm25_probe" -> "probe", "dedup_probe" -> "probe",
    "index_append" -> "index_append", "fold" -> "fold")

  private def intervalUnion(xs: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    xs.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def common(rec: Recorder, foreground: Seq[String]): Map[String, Metric] = {
    val out = mutable.LinkedHashMap[String, Metric]()
    val traced = rec.ops.filter(o => o.traced && o.ok).toSeq
    val fg = traced.filter(o => foreground.contains(o.kind))

    // Catalyst phases of every execution that started inside the op
    val phases = rec.phaseL.phases.toArray(Array.empty[(Long, String, Long)]).toSeq
    def phaseMs(o: OpRecord, name: String): Double =
      phases.filter(p => p._2 == name && p._1 >= o.startMs && p._1 <= o.endMs).map(_._3).sum.toDouble
    Seq("analysis", "optimization", "planning").foreach { ph =>
      out(s"plans.${ph}_ms") = Metric(Pct.median(fg.map(phaseMs(_, ph))), "ms")
    }

    // Spark work per op type, averaged per op
    traced.groupBy(o => OpType.get(o.kind)).foreach {
      case (Some(t), os) =>
        val tots = os.map(o => o -> rec.execL.totals(o.id))
        def avg(f: ExecTotals => Double): Double =
          tots.map { case (_, x) => x.map(f).getOrElse(0.0) }.sum / os.size
        out(s"exec.$t.jobs") = Metric(avg(_.jobs.toDouble), "count")
        out(s"exec.$t.stages") = Metric(avg(_.stages.toDouble), "count")
        out(s"exec.$t.tasks") = Metric(avg(_.tasks.toDouble), "count")
        out(s"exec.$t.task_cpu_ms") = Metric(avg(_.cpuNs / 1e6), "ms")
        out(s"exec.$t.gc_ms") = Metric(avg(_.gcMs.toDouble), "ms")
        out(s"exec.$t.input_bytes") = Metric(avg(_.input.toDouble), "B")
        out(s"exec.$t.output_bytes") = Metric(avg(_.output.toDouble), "B")
        out(s"exec.$t.shuffle_read_bytes") = Metric(avg(_.shuffleRead.toDouble), "B")
        out(s"exec.$t.shuffle_write_bytes") = Metric(avg(_.shuffleWrite.toDouble), "B")
        out(s"exec.$t.spill_bytes") = Metric(avg(_.spill.toDouble), "B")
        val gaps = tots.map { case (o, x) =>
          val jobs = x.map(_.jobSpans.toSeq).getOrElse(Nil)
            .map { case (s, e) => (math.max(s, o.startMs), math.min(e, o.endMs)) }
            .filter { case (s, e) => e > s }
          o.wallMs - intervalUnion(jobs)
        }
        out(s"exec.$t.driver_gap_ms") = Metric(Pct.median(gaps), "ms")
      case _ =>
    }

    // spans of an op are sequential, so their sum over the op's wall
    // time is how much of it the spans account for
    val withSpans = fg.filter(_.spans.nonEmpty)
    if (withSpans.nonEmpty)
      out("trace.span_cover_ratio") = Metric(Pct.median(withSpans.map(o =>
        o.spans.map { case (_, s, e) => (e - s) / 1e6 }.sum / o.wallMs)), "ratio")
    // in-run A/B: traced rounds minus untraced rounds of the same run
    val untraced = rec.ops.filter(o => !o.traced && o.ok && foreground.contains(o.kind)).map(_.wallMs)
    if (fg.nonEmpty && untraced.nonEmpty)
      out("trace.overhead_ms") = Metric(Pct.median(fg.map(_.wallMs)) - Pct.median(untraced.toSeq), "ms")
    out.toMap
  }

  /** All spans and per-op exec totals of the traced run, written once
    * when the run ends. */
  def writeSpans(rec: Recorder, path: String): Unit = {
    val items = rec.ops.filter(_.traced).map { o =>
      val x = rec.execL.totals(o.id)
      Json.obj(Seq(
        "op" -> Json.str(o.id), "kind" -> Json.str(o.kind), "ok" -> Json.bool(o.ok),
        "error" -> Json.str(o.error),
        "start_ms" -> o.startMs.toString, "wall_ms" -> Json.num(o.wallMs),
        "spans" -> Json.arr(o.spans.map { case (n, s, e) =>
          Json.obj(Seq("name" -> Json.str(n), "dur_ms" -> Json.num((e - s) / 1e6)))
        }),
        "extra" -> Json.obj(o.extra.toSeq.map { case (k, v) => k -> Json.num(v) }),
        "exec" -> x.map(t => Json.obj(Seq(
          "jobs" -> t.jobs.toString, "stages" -> t.stages.toString, "tasks" -> t.tasks.toString,
          "task_cpu_ms" -> Json.num(t.cpuNs / 1e6), "gc_ms" -> t.gcMs.toString,
          "input_bytes" -> t.input.toString, "shuffle_read_bytes" -> t.shuffleRead.toString,
          "shuffle_write_bytes" -> t.shuffleWrite.toString, "spill_bytes" -> t.spill.toString)))
          .getOrElse("null")))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), Json.arr(items.toSeq))
  }
}
