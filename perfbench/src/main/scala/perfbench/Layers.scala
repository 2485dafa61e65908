package perfbench

import java.io.File

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer metrics of the traced run, computed after the session stopped
  * (so the listener bus is drained) from the [[Tracer]]'s spans and the
  * [[Probe]]'s events. Metrics of a layer a workload does not exercise are
  * reported as 0. */
object Layers {
  val BatchOutputs: Seq[String] = BatchBench.Outputs.map(_._1)
  val AlgoStats: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "plan_ms" -> "ms", "jobs" -> "count", "tasks" -> "count",
    "task_sum_s" -> "s", "task_max_s" -> "s", "shuffle_write_mb" -> "MB",
    "spill_mb" -> "MB", "gc_s" -> "s")
  val StreamStats: Seq[(String, String)] = Seq(
    "batch_ms" -> "ms", "exec_ms" -> "ms", "plan_ms" -> "ms", "log_ms" -> "ms",
    "state_commit_ms" -> "ms", "state_rows" -> "rows", "state_mb" -> "MB",
    "late_dropped" -> "rows")

  /** Every per-layer metric with its unit, in BENCHMARK.json's order. */
  val all: Seq[(String, String)] = Seq(
    "session.build_s" -> "s",
    "sinks.lake_write_s" -> "s",
    "sinks.results_write_ms" -> "ms",
    "sinks.ledger_append_ms" -> "ms",
    "sinks.ledger_read_ms" -> "ms",
    "sinks.ledger_files" -> "count",
    "replay.tick_p50_ms" -> "ms",
    "replay.tick_p90_ms" -> "ms",
    "replay.build_ms" -> "ms",
    "replay.plan_ms" -> "ms",
    "replay.jobs" -> "count",
    "replay.input_rows" -> "rows",
    "sources.input_rows" -> "rows",
    "sources.input_mb" -> "MB",
    "sources.scan_amplification" -> "ratio",
    "engine.build_ms" -> "ms",
    "engine.eager_jobs" -> "count") ++
    BatchOutputs.flatMap(o => AlgoStats.map { case (s, u) => s"algorithms.$o.$s" -> u }) ++
    StreamBench.Queries.flatMap(q => StreamStats.map { case (s, u) => s"stream.$q.$s" -> u }) ++
    Seq(
      "stream.watermark_lag_s" -> "s",
      "jvm.gc_s" -> "s",
      "jvm.heap_peak_mb" -> "MB",
      "scaling.batch_speedup" -> "ratio",
      "trace.traced_op_p50_ms" -> "ms",
      "trace.untraced_op_p50_ms" -> "ms",
      "trace.overhead_ms" -> "ms",
      "trace.accounted_ms" -> "ms")

  val names: Seq[String] = all.map(_._1)
  private val units = all.toMap
  def unit(name: String): String = units(name)

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  def compute(c: Ctx): Unit = {
    val probe = c.probe.get
    val spans = c.tracer.spans
    val children = spans.groupBy(_.parent)
    def kids(s: Span, name: String): Seq[Span] =
      children.getOrElse(s.id, Nil).filter(_.name == name)
    /** Jobs and SQL executions submitted inside a span, as wall intervals. */
    def sparkIntervals(s: Span): Seq[(Double, Double)] =
      probe.execsOfSpan(s.id).filter(_.endMs >= 0)
        .map(x => (x.startMs.toDouble, x.endMs.toDouble)) ++
        probe.jobsOfSpan(s.id).filter(_.endMs >= 0)
          .map(j => (j.startMs.toDouble, j.endMs.toDouble))
    val lakeRows = c.detail.get("lake_rows").map(_.toString.toDouble).getOrElse(0.0)

    c.layer("trace.traced_op_p50_ms") = med(c.tracedMs)
    c.layer("trace.untraced_op_p50_ms") = med(c.untracedMs)
    c.layer("trace.overhead_ms") = med(c.tracedMs) - med(c.untracedMs)

    c.args.workload match {
      case "batch" =>
        // the cold op is the first batch.op span; per-layer figures are
        // medians over the traced warm ops
        val ops = spans.filter(_.name == "batch.op").sortBy(_.startMs).drop(1)
        val builds = ops.flatMap(kids(_, "engine.batchRun"))
        c.layer("engine.build_ms") = med(builds.map(b => Trace.selfMs(b, sparkIntervals(b))))
        c.layer("engine.eager_jobs") = med(builds.map(b => probe.jobsOfSpan(b.id).size.toDouble))
        BatchOutputs.foreach { o =>
          val ss = ops.flatMap(kids(_, s"algorithms.$o"))
          val tot = ss.map(s => (s, probe.stageTotals(probe.jobsOfSpan(s.id).map(_.id))))
          def put(stat: String, f: (Span, StageAgg) => Double): Unit =
            c.layer(s"algorithms.$o.$stat") = med(tot.map { case (s, a) => f(s, a) })
          put("wall_s", (s, _) => s.durationMs / 1000.0)
          put("plan_ms", (s, _) => probe.planMsWithin(s.startMs, s.endMs))
          put("jobs", (s, _) => probe.jobsOfSpan(s.id).size.toDouble)
          put("tasks", (_, a) => a.tasks.toDouble)
          put("task_sum_s", (_, a) => a.runMs / 1000.0)
          put("task_max_s", (_, a) => a.maxRunMs / 1000.0)
          put("shuffle_write_mb", (_, a) => a.shuffleWriteBytes / 1e6)
          put("spill_mb", (_, a) => a.spillBytes / 1e6)
          put("gc_s", (s, _) => s.gcMs / 1000.0)
        }
        val reads = ops.map { op =>
          val jobIds = (op +: children.getOrElse(op.id, Nil))
            .flatMap(s => probe.jobsOfSpan(s.id).map(_.id))
          probe.stageTotals(jobIds)
        }
        c.layer("sources.input_rows") = med(reads.map(_.recordsRead.toDouble))
        c.layer("sources.input_mb") = med(reads.map(_.bytesRead / 1e6))
        c.layer("sources.scan_amplification") =
          if (lakeRows > 0) c.layer("sources.input_rows") / lakeRows else 0.0
        c.layer("trace.accounted_ms") = c.layer("engine.build_ms") +
          BatchOutputs.map(o => c.layer(s"algorithms.$o.wall_s") * 1000.0).sum
        replayLayers(c, probe, spans.filter(_.name == "engine.replayTick"), sparkIntervals)

      case "stream" =>
        streamLayers(c, probe)
    }
  }

  /** The replay ticks of the traced batch run. A tick runs three `Sinks`
    * calls in order (ledger read, results write, ledger append); each
    * phase ends with the last SQL execution whose call site is in it, so
    * the three phases add up to the tick. */
  private def replayLayers(c: Ctx, probe: Probe, ticks: Seq[Span],
      sparkIntervals: Span => Seq[(Double, Double)]): Unit = {
    def endOf(xs: Seq[ExecRec], fn: String, after: Double): Double =
      (after +: xs.filter(_.callSite.contains(s"Sinks$$.$fn")).map(_.endMs.toDouble)).max
    val phases = ticks.map { t =>
      val xs = probe.execsOfSpan(t.id).filter(_.endMs >= 0)
      val readEnd = endOf(xs, "latestLedger", t.startMs)
      val writeEnd = endOf(xs, "writeResults", readEnd)
      val jobs = probe.jobsOfSpan(t.id)
      Seq(readEnd - t.startMs, writeEnd - readEnd, t.endMs - writeEnd,
        Trace.selfMs(t, sparkIntervals(t)), probe.planMsWithin(t.startMs, t.endMs),
        jobs.size.toDouble, probe.stageTotals(jobs.map(_.id)).recordsRead.toDouble)
    }
    Seq("sinks.ledger_read_ms", "sinks.results_write_ms", "sinks.ledger_append_ms",
      "replay.build_ms", "replay.plan_ms", "replay.jobs", "replay.input_rows")
      .zipWithIndex.foreach { case (n, i) => c.layer(n) = med(phases.map(_(i))) }
    c.layer("sinks.ledger_files") = Option(new File(c.path("ledger")).listFiles())
      .map(_.count(_.getName.endsWith(".parquet")).toDouble).getOrElse(0.0)
  }

  /** Streaming progress attributed to timed ticks by batch id. */
  private def streamLayers(c: Ctx, probe: Probe): Unit = {
    val ticks = c.detail("stream_ticks").asInstanceOf[Seq[Map[String, Any]]]
    val all = probe.synchronized(probe.progress.toSeq)
    val byQuery = all.groupBy(_.name)
    val firstTimed = c.detail("stream_first_timed_batch").asInstanceOf[Map[String, Long]]
    StreamBench.Queries.foreach { q =>
      val ps = byQuery.getOrElse(s"pb_$q", Nil).sortBy(_.batchId)
      var prev = firstTimed(q)
      val perTick: Seq[Seq[StreamingQueryProgress]] = ticks.map { t =>
        val last = t("last_batch").asInstanceOf[Map[String, Long]](q)
        val in = ps.filter(p => p.batchId > prev && p.batchId <= last)
        prev = last
        in
      }
      def dur(p: StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      def put(stat: String, f: Seq[StreamingQueryProgress] => Double): Unit =
        c.layer(s"stream.$q.$stat") = med(perTick.filter(_.nonEmpty).map(f))
      put("batch_ms", _.map(dur(_, "triggerExecution")).sum)
      put("exec_ms", _.map(dur(_, "addBatch")).sum)
      put("plan_ms", _.map(dur(_, "queryPlanning")).sum)
      put("log_ms", _.map(p => dur(p, "walCommit") + dur(p, "commitOffsets")).sum)
      put("state_commit_ms", _.map(_.stateOperators.map(_.commitTimeMs.toDouble).sum).sum)
      put("state_rows", _.last.stateOperators.map(_.numRowsTotal.toDouble).sum)
      put("state_mb", _.last.stateOperators.map(_.memoryUsedBytes / 1e6).sum)
      c.layer(s"stream.$q.late_dropped") =
        ps.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum.toDouble
      if (q == "metrics")
        c.layer("stream.watermark_lag_s") = med(ticks.zip(perTick).collect {
          case (t, in) if in.nonEmpty =>
            (t("newest_event_ms").asInstanceOf[Long] - StreamBench.watermark(in.last)) / 1000.0
        })
    }
  }
}
