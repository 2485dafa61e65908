package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import graft.sources.{Sinks, Sources}
import graft.ztbus.Engine

/** The seeded lake shared by `batch` and `replay`, written once with
  * [[Sinks.writeTelemetry]] and read back with [[Sources]]. */
object LakeSetup {
  def write(c: Ctx, lake: Gen.Lake): (DataFrame, DataFrame) = {
    val spark = c.spark
    val t0 = System.nanoTime()
    c.tracer.span("sinks.writeTelemetry") {
      Sinks.writeTelemetry(lake.telemetry(spark), c.path("lake"))
      spark.createDataFrame(lake.trips).write.mode("overwrite").parquet(c.path("trips"))
    }
    c.layer("sinks.lake_write_s") = (System.nanoTime() - t0) / 1e9
    c.detail("lake_rows") = lake.rows
    c.detail("input_rows") = Map("lake" -> lake.rows)
    (Sources.telemetry(spark, c.path("lake")).toDF(),
      Sources.trips(spark, c.path("trips")).toDF())
  }
}

/** `batch`: [[Engine.batchRun]] over the whole lake with all six outputs
  * materialized to the `noop` sink. One operation is one batchRun plus the
  * six writes. */
object BatchBench {
  /** Samples per trip: 3 trips × 100 k s = 300 k rows (a fifth of the
    * reference's 1.5 M), sized so one run fits the benchmark's time box. */
  val SecondsPerTrip = 10000L
  val WarmupOps = 2
  val MinTimedOps = 3

  val Outputs: Seq[(String, Engine.BatchResults => DataFrame)] = Seq(
    "active_buses" -> (_.activeBuses),
    "metrics" -> (_.metrics),
    "results" -> (_.results),
    "halt_sessions" -> (_.haltSessions),
    "park_sessions" -> (_.parkSessions),
    "session_stats" -> (_.sessionStats))

  /** One traced-or-not batch operation. */
  def once(c: Ctx, tel: DataFrame, trips: DataFrame, from: Timestamp,
      to: Timestamp): Engine.BatchResults =
    c.tracer.span("batch.op") {
      val r = c.tracer.span("engine.batchRun")(Engine.batchRun(tel, trips, from, to))
      Outputs.foreach { case (name, pick) =>
        c.tracer.span(s"algorithms.$name") {
          pick(r).write.format("noop").mode("overwrite").save()
        }
      }
      r
    }

  /** The batchRun interval that covers the whole lake. */
  private def window(lake: Gen.Lake): (Timestamp, Timestamp) =
    (new Timestamp(lake.startMs.values.min),
      new Timestamp(lake.startMs.values.max + 1000L * lake.secondsPerTrip))

  def run(c: Ctx): Unit = {
    val lake = Gen.Lake(c.args.seed, SecondsPerTrip)
    c.tracer.enabled = c.args.trace
    c.phase("lake")
    val (tel, trips) = LakeSetup.write(c, lake)
    val (from, to) = window(lake)

    c.phase("cold")
    val cold = Timer.ms(c.op("batch.cold")(once(c, tel, trips, from, to)))
    c.tracer.enabled = false
    (0 until WarmupOps).foreach(_ => c.op("batch.warmup")(once(c, tel, trips, from, to)))
    c.detail("setup_s") = c.sinceJvmStartS

    c.phase("timed")
    var last: Option[Engine.BatchResults] = None
    c.timed = Timer.loop(c, MinTimedOps) { i =>
      c.tracer.enabled = c.traced(i)
      last = c.op("batch.op")(once(c, tel, trips, from, to)).orElse(last)
    }
    c.tracer.enabled = false
    c.reportOps()
    c.e2e("cold_op_s") = (cold._2 / 1000.0, "s")
    c.e2e("rows_per_s") = (lake.rows / (c.e2e("op_p50_ms")._1 / 1000.0), "rows/s")

    c.phase("check")
    // output check: every output's row count against the generator's plan
    val expected = lake.expectedBatch
    last match {
      case Some(r) => Outputs.foreach { case (name, pick) =>
        val n = pick(r).count()
        c.check(s"batch.$name.rows", n == expected(name),
          s"$name has $n rows, expected ${expected(name)}")
      }
      case None => c.check("batch.outputs", ok = false, "no batchRun succeeded")
    }
    c.detail("expected_rows") = expected
    if (c.args.trace) {
      c.phase("replay")
      ReplayProbe.run(c, lake, tel, trips)
    }
  }

  /** The single-core baseline of the traced run: one batchRun at local[1]
    * over the same lake, after the main session has stopped. */
  def singleCore(c: Ctx): Double = {
    val spark = Main.session(c, "local[1]", 1)
    c.spark = spark
    val tel = Sources.telemetry(spark, c.path("lake")).toDF()
    val trips = Sources.trips(spark, c.path("trips")).toDF()
    val (from, to) = window(Gen.Lake(c.args.seed, SecondsPerTrip))
    val t = Timer.ms(c.op("batch.local1")(once(c, tel, trips, from, to)))._2
    spark.stop()
    t
  }
}

object Timer {
  def ms[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Runs `body(i)` for i = 0, 1, ... until `c.args.seconds` have passed and
    * at least `minOps` ran; returns (i, wall ms) per operation. */
  def loop(c: Ctx, minOps: Int)(body: Int => Unit): Seq[(Int, Double)] = {
    val deadline = System.nanoTime() + c.args.seconds * 1000000000L
    val out = Seq.newBuilder[(Int, Double)]
    var i = 0
    while (i < minOps || System.nanoTime() < deadline) {
      out += ((i, ms(body(i))._2))
      i += 1
    }
    out.result()
  }
}
