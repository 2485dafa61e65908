package perfbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession
import graft.GraftSession

/** Entry point of one benchmark run:
  * `--workload batch|stream --seed n --seconds s --trace 0|1`.
  *
  * Prints the artifact (env block, metrics, samples, checks) as one JSON
  * line, then the result line `{"correct", "attempted", "failed",
  * "metrics"}` last. With `--trace 0` the metrics are the end-to-end ones;
  * with `--trace 1` the per-layer ones. Exits 1 when an operation failed or
  * an output check did not hold. */
object Main {
  val Workloads = Seq("batch", "stream")

  def session(c: Ctx, master: String, partitions: Int): SparkSession = {
    val spark = GraftSession.builder(master, partitions)
      .config("spark.local.dir", c.path("spark-local"))
      .config("spark.sql.warehouse.dir", c.path("warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    require(Workloads.contains(args.workload),
      s"unknown workload ${args.workload}; expected one of ${Workloads.mkString(", ")}")
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val work = new File(sys.env.getOrElse("PERFBENCH_WORK", ".bench_build/work/run"))
      .getAbsoluteFile
    work.mkdirs()
    val c = new Ctx(args, cores, work)
    val env = Env.start(c)

    c.phase("session")
    val (spark, buildMs) = Timer.ms(session(c, s"local[$cores]", cores))
    c.spark = spark
    c.layer("session.build_s") = buildMs / 1000.0
    c.tracer = new Tracer(spark.sparkContext, s"${args.workload}-${args.seed}", () => c.gcMs)
    if (args.trace) {
      val p = new Probe
      spark.sparkContext.addSparkListener(p)
      spark.listenerManager.register(p)
      spark.streams.addListener(p.streaming)
      c.probe = Some(p)
    }
    val gc0 = c.gcMs

    c.phase("workload")
    args.workload match {
      case "batch" => BatchBench.run(c)
      case "stream" => StreamBench.run(c)
    }
    c.e2e("setup_s") = (c.detail("setup_s").asInstanceOf[Double], "s")
    c.e2e("rss_peak_mb") = (c.rssPeakMb, "MB")
    c.layer("jvm.gc_s") = (c.gcMs - gc0) / 1000.0
    c.layer("jvm.heap_peak_mb") = c.heapPeakMb
    c.phase("stop")
    spark.stop() // drains the listener bus: every event is in the probe now
    if (args.trace) {
      Layers.compute(c)
      if (args.workload == "batch")
        c.layer("scaling.batch_speedup") =
          BatchBench.singleCore(c) / Stats.median(c.untracedMs)
    }

    c.phase("report")
    val failedFrac = c.failed.toDouble / math.max(1L, c.attempted)
    val metrics: Seq[(String, (Double, String))] =
      if (args.trace) Layers.names.map(n => n -> (c.layer.getOrElse(n, 0.0), Layers.unit(n)))
      else End2End.names.map(n => n -> c.e2e(n))
    val artifact = Map(
      "workload" -> args.workload,
      "seed" -> args.seed,
      "seconds" -> args.seconds,
      "trace" -> args.trace,
      "env" -> Env.finish(env, c),
      "end_to_end" -> c.e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> c.layer,
      "failed_ops_frac" -> failedFrac,
      "attempted" -> c.attempted,
      "failed" -> c.failed,
      "checks" -> c.checks.map { case (n, ok, why) =>
        Map("name" -> n, "ok" -> ok, "detail" -> why) },
      "phases_s" -> c.phases,
      "detail" -> c.detail,
      "executions" -> c.probe.toSeq.flatMap(_.execList).map(x =>
        Map("id" -> x.id, "group" -> x.group, "start_ms" -> x.startMs, "end_ms" -> x.endMs,
          "call_site" -> x.callSite.linesIterator.take(4).mkString(" | "))),
      "spans" -> c.tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "run" -> s.run)))
    val rendered = Json.render(artifact)
    sys.env.get("PERFBENCH_ARTIFACT").foreach { path =>
      val w = new PrintWriter(new File(path))
      try w.println(rendered) finally w.close()
    }
    val correct = c.failed == 0
    println(Json.render(Map(
      "correct" -> correct,
      "attempted" -> c.attempted,
      "failed" -> c.failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics.map { case (n, (v, u)) =>
        n -> Map("value" -> v, "unit" -> u) }: _*))))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}

/** The end-to-end metric names, in BENCHMARK.json's order. */
object End2End {
  val names: Seq[String] =
    Seq("setup_s", "op_p50_ms", "op_p90_ms", "cold_op_s", "rows_per_s", "rss_peak_mb")
}

/** The artifact's `env` block. */
object Env {
  private def loadavg: String = scala.util.Try {
    val s = scala.io.Source.fromFile("/proc/loadavg")
    try s.mkString.trim.split(" ").take(3).mkString(" ") finally s.close()
  }.getOrElse("")

  def start(c: Ctx): Map[String, Any] = Map(
    "master" -> s"local[${c.cores}]",
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "xmx_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
    "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
    "spark" -> org.apache.spark.SPARK_VERSION,
    "seed" -> c.args.seed,
    "git_commit" -> sys.env.getOrElse("PERFBENCH_GIT_COMMIT", "unknown"),
    "loadavg_start" -> loadavg)

  def finish(start: Map[String, Any], c: Ctx): Map[String, Any] =
    start ++ Map(
      "loadavg_end" -> loadavg,
      "input_rows" -> c.detail.getOrElse("input_rows", Map.empty))
}
