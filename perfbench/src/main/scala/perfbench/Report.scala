package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Turns a run's loop statistics and trace into the benchmark's metrics. */
object Report {
  final case class Metric(name: String, value: Double, unit: String)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** The final stdout line the benchmark's caller parses. */
  def line(st: LoopStats, metrics: Seq[Metric]): String = {
    val ms = metrics.map(m => s"${quote(m.name)}: {\"value\": ${num(m.value)}, \"unit\": ${quote(m.unit)}}")
    s"""{"correct": ${st.failed == 0}, "attempted": ${st.attempted}, "failed": ${st.failed}, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }

  private def detail(label: String, metrics: Seq[Metric]): Unit =
    println(s"[perfbench] $label " + metrics.map(m => s"${m.name}=${num(m.value)} ${m.unit}").mkString(", "))

  private def errors(st: LoopStats): Unit =
    st.errors.foreach { case (i, e) => println(s"[perfbench] FAILED op $i: $e") }

  /** Every end-to-end figure of one loop: the gated ones (in the result
    * line, on every workload), then the printed-only ones.
    */
  def endToEndMetrics(st: LoopStats, setupS: Double, w: Workload): (Seq[Metric], Seq[Metric]) = {
    val secs = st.seconds
    val total = secs.sum
    val gated = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("op_mean_s", if (secs.isEmpty) Double.NaN else total / secs.size, "s"))
    val tail = ClosedLoop.tail(secs)
    val extra = Seq(
      Metric("ops", secs.size.toDouble, "count"),
      Metric("op_p50_s", ClosedLoop.median(secs), "s"),
      Metric("op_tail_s", tail.map(_._1).getOrElse(Double.NaN), "s"),
      Metric("op_tail_pct", tail.map(_._2).getOrElse(Double.NaN), "%"),
      Metric("rows_per_s", if (total > 0) st.rows / total else Double.NaN, "1/s"),
      Metric("suite_s", total, "s"),
      Metric("fail_frac", if (st.attempted > 0) st.failed.toDouble / st.attempted else Double.NaN, "share"),
      Metric("state_mb", w.stateBytes / 1048576.0, "MB"),
      Metric("peak_heap_mb", st.peakHeapBytes / 1048576.0, "MB"))
    (gated, extra)
  }

  def endToEnd(workload: String, st: LoopStats, setupS: Double, w: Workload): String = {
    val (gated, extra) = endToEndMetrics(st, setupS, w)
    errors(st)
    println(s"[perfbench] $workload op seconds: " +
      st.ok.map { case (i, t, _) => s"${w.label(i)}=${num(t)}" }.mkString(", "))
    detail(s"$workload end-to-end", gated ++ extra)
    line(st, gated)
  }

  /** Per-layer metrics of the traced loop, per op, plus the tracing
    * overhead against the untraced loop of the same process.
    */
  def perLayer(workload: String, plain: LoopStats, traced: LoopStats, tr: Tracer,
               w: Workload): String = {
    val ok = traced.ok.map(_._1).toSet
    val spans = tr.allSpans
    val ops = spans.filter(s => s.parent < 0 && ok(s.op))
    val n = math.max(ops.size, 1).toDouble
    val opOf = spans.map(s => s.id -> s.op).toMap
    def inOps(span: Long) = opOf.get(span).exists(ok)
    val jobs = tr.jobs.values.asScala.toSeq.filter(j => inOps(j.span))
    val execs = tr.executions.values.asScala.toSeq.filter(e => inOps(e.span))
    val children = spans.groupBy(_.parent)
    def self(s: Span): Double = s.seconds - Spans.covered(s, children.getOrElse(s.id, Nil))
    def selfSum(name: String) = spans.filter(s => s.name == name && ok(s.op)).map(self).sum / n
    def durSum(name: String) = spans.filter(s => s.name == name && ok(s.op)).map(_.seconds).sum / n
    def writeS(cls: String) = execs.filter(_.writes.contains(cls)).map(_.seconds).sum / n
    def reads(cls: String) = execs.count(_.reads.contains(cls)).toDouble
    val runs = n * math.max(w.runsPerOp, 1)
    val wall = ops.map(_.seconds).sum
    val runS = jobs.map(_.runMs).sum / 1e3
    val rows = traced.rows.toDouble

    val fixed = Seq(
      Metric("pipeline.extract_s", selfSum("pipeline.extract"), "s"),
      Metric("pipeline.stage_s", selfSum("pipeline.stage"), "s"),
      Metric("pipeline.feed_s", durSum("pipeline.feed"), "s"),
      Metric("pipeline.actions_per_tick", execs.count(_.root) / n, "count"),
      Metric("spark.planning_s", execs.map(_.planningMs).sum / 1e3 / n, "s"),
      Metric("sources.latest_write_s", writeS("latest"), "s"),
      Metric("sources.run_log_write_s", writeS("run_log"), "s"),
      Metric("sources.watermark_write_s", writeS("watermark"), "s"),
      Metric("sources.history_write_s", writeS("history"), "s"),
      Metric("sources.landing_write_s", writeS("landing"), "s"),
      Metric("spark.core_idle_share", if (wall > 0) 1 - runS / (wall * Main.Cores) else Double.NaN, "share"),
      Metric("sources.feed_scans_per_run", if (w.runsPerOp > 0) reads("feed") / runs else 0.0, "count"),
      Metric("sources.landing_scans_per_run", if (w.runsPerOp > 0) reads("landing") / runs else 0.0, "count"),
      Metric("sources.bytes_written_per_row",
        if (rows > 0) jobs.map(_.writeBytes).sum / rows else 0.0, "B"),
      Metric("spark.task_cpu_s", jobs.map(_.cpuNs).sum / 1e9 / n, "s"),
      Metric("spark.task_run_s", runS / n, "s"),
      Metric("spark.shuffle_write_bytes", jobs.map(_.shuffleWriteBytes).sum / n, "B"),
      Metric("spark.shuffle_read_bytes", jobs.map(_.shuffleReadBytes).sum / n, "B"),
      Metric("spark.shuffle_records", jobs.map(_.shuffleRecords).sum / n, "count"),
      Metric("spark.spill_bytes", jobs.map(_.spillBytes).sum / n, "B"),
      Metric("spark.scan_bytes", jobs.map(_.scanBytes).sum / n, "B"),
      Metric("spark.peak_exec_mem_mb", (0L +: jobs.map(_.peakExecMem)).max / 1048576.0, "MB"),
      Metric("spark.jobs", jobs.size / n, "count"),
      Metric("spark.stages", jobs.map(_.stages).sum / n, "count"),
      Metric("spark.tasks", jobs.map(_.tasks).sum / n, "count"),
      Metric("spark.checkpoint_s", jobs.filter(_.isCheckpoint).map(_.seconds).sum / n, "s"))
    val sums = w.layerSums(ops)
    val families = Seq("functions.neardup_s", "functions.similarity_s", "functions.corpus_s",
      "functions.text_s", "functions.graph_s", "operators.wms_s", "sources.catalog_s")
      .map(m => Metric(m, sums.getOrElse(m.stripSuffix("_s"), 0.0), "s"))
    val mean = (st: LoopStats) =>
      if (st.seconds.isEmpty) Double.NaN else st.seconds.sum / st.seconds.size
    val overhead = Seq(
      Metric("trace.overhead_s", mean(traced) - mean(plain), "s"),
      Metric("trace.span_coverage",
        if (wall > 0) ops.map(o => Spans.covered(o, children.getOrElse(o.id, Nil))).sum / wall
        else Double.NaN, "share"),
      Metric("trace.action_coverage",
        if (wall > 0) ops.map(o => Spans.union(tr.intervalsMs(o, execs)) / 1e3).sum / wall
        else Double.NaN, "share"))
    errors(plain)
    errors(traced)
    detail(s"$workload untraced", Seq(Metric("op_mean_s", mean(plain), "s"),
      Metric("op_p50_s", ClosedLoop.median(plain.seconds), "s"), Metric("ops", plain.seconds.size, "count")))
    detail(s"$workload traced", Seq(Metric("op_mean_s", mean(traced), "s"),
      Metric("op_p50_s", ClosedLoop.median(traced.seconds), "s"), Metric("ops", traced.seconds.size, "count")))
    val perOp = ops.map(o => s"${w.label(o.op)}=${num(o.seconds)}")
    println(s"[perfbench] $workload traced op seconds: ${perOp.mkString(", ")}")
    val all = fixed ++ families ++ overhead
    detail(s"$workload per-layer", all)
    val st = new LoopStats
    st.attempted = plain.attempted + traced.attempted
    st.failed = plain.failed + traced.failed
    line(st, all)
  }

  /** Writes the kept spans as JSON lines, one span per line. */
  def writeSpans(file: Path, tr: Tracer): Unit = {
    Option(file.getParent).foreach(Files.createDirectories(_))
    Files.writeString(file, tr.allSpans.map { s =>
      s"""{"id": ${s.id}, "name": ${quote(s.name)}, "parent": ${s.parent}, "op": ${s.op}, """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}}"""
    }.mkString("", "\n", "\n"))
  }
}

/** Interval arithmetic over spans. */
object Spans {
  /** Seconds of `s` covered by the union of `kids`. */
  def covered(s: Span, kids: Seq[Span]): Double =
    union(kids.map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))) / 1e9

  /** Length of the union of intervals, in their unit. */
  def union(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    ivs.filter(iv => iv._2 > iv._1).sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }
}
