package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import graft.streaming.Streaming
import graft.streaming.Streaming.FlagSample
import graft.ztbus.{Algorithms, Telemetry}

/** `stream`: a closed-loop minute-tick replay. Each tick adds one simulated
  * minute of the seeded fleet to every query's `MemoryStream` and waits
  * until all five queries are idle. One operation is one tick. */
object StreamBench {
  val Buses = 100
  val WarmupTicks = 4
  val MinTimedTicks = 6
  /** Generated horizon; a run stops well before it. */
  val HorizonTicks = 3000

  val Halt = "status_halt_brake_is_active"
  val Park = "status_park_brake_is_active"
  val Queries: Seq[String] =
    Seq("metrics", "halt_sessions", "park_sessions", "halt_stats", "park_stats")

  /** One tick's boundaries: wall interval and each query's last batch id. */
  final case class TickRec(index: Int, startMs: Double, endMs: Double,
      lastBatch: Map[String, Long], newestEventMs: Long, rows: Int)

  private def flagOf(flag: String): Telemetry => Boolean =
    if (flag == Halt) _.status_halt_brake_is_active else _.status_park_brake_is_active

  def run(c: Ctx): Unit = {
    implicit val spark: SparkSession = c.spark
    implicit val sqlCtx: SQLContext = spark.sqlContext
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")

    val fleet = Gen.Fleet(c.args.seed, Buses, HorizonTicks)
    val tripDim = spark.createDataFrame(fleet.tripDim).toDF()
    val inputs = Queries.map(q => q -> MemoryStream[Telemetry]).toMap

    def sessions(q: String, flag: String): DataFrame = {
      val f = flagOf(flag)
      Streaming.sessionize(inputs(q).toDS()
        .map(t => FlagSample(t.trip_id, t.time, f(t)))).toDF()
    }
    val plans: Seq[(String, DataFrame)] = Seq(
      "metrics" -> Streaming.fullMetricsStream(inputs("metrics").toDS(), Some(tripDim)),
      "halt_sessions" -> sessions("halt_sessions", Halt),
      "park_sessions" -> sessions("park_sessions", Park),
      "halt_stats" -> Streaming.sessionStatsStream(inputs("halt_stats").toDS(), Halt).toDF(),
      "park_stats" -> Streaming.sessionStatsStream(inputs("park_stats").toDS(), Park).toDF())
    val queries: Seq[(String, StreamingQuery)] = plans.map { case (q, df) =>
      q -> df.writeStream.format("memory").outputMode("append")
        .queryName(s"pb_$q").option("checkpointLocation", c.path(s"ckpt/$q"))
        .start()
    }

    val ticks = mutable.ArrayBuffer.empty[TickRec]
    var newest = Long.MinValue
    def tick(k: Int): Unit = {
      val rows = fleet.tick(k)
      newest = math.max(newest, rows.map(_.time.getTime).max)
      val t0 = c.tracer.nowMs
      c.tracer.span("stream.tick") {
        c.tracer.span("stream.addData")(inputs.values.foreach(_.addData(rows)))
        queries.foreach { case (q, sq) =>
          c.tracer.span(s"stream.await.$q")(sq.processAllAvailable())
        }
      }
      ticks += TickRec(k, t0, c.tracer.nowMs,
        queries.map { case (q, sq) =>
          q -> Option(sq.lastProgress).map(_.batchId).getOrElse(-1L) }.toMap,
        newest, rows.size)
    }

    c.phase("warmup")
    (0 until WarmupTicks).foreach(k => c.op("stream.warmup")(tick(k)))
    c.detail("setup_s") = c.sinceJvmStartS
    c.detail("stream_first_timed_batch") = ticks.last.lastBatch
    c.phase("timed")
    c.timed = Timer.loop(c, MinTimedTicks) { i =>
      c.tracer.enabled = c.traced(i)
      c.op("stream.tick")(tick(WarmupTicks + i))
    }
    c.tracer.enabled = false
    val nTicks = WarmupTicks + c.timed.size
    val timedRecs = ticks.drop(WarmupTicks).toSeq
    c.reportOps()
    c.e2e("cold_op_s") = ((ticks.head.endMs - ticks.head.startMs) / 1000.0, "s")
    c.e2e("rows_per_s") =
      (Stats.median(timedRecs.map(_.rows.toDouble)) / (c.e2e("op_p50_ms")._1 / 1000.0), "rows/s")
    c.detail("warmup_ms") = ticks.take(WarmupTicks).map(r => r.endMs - r.startMs)
    c.detail("ticks") = nTicks

    c.phase("check")
    val progress: Map[String, Seq[StreamingQueryProgress]] =
      queries.map { case (q, sq) => q -> sq.recentProgress.toSeq }.toMap
    val watermarkMs = watermark(progress("metrics").last)
    queries.foreach(_._2.stop())
    c.phase("check.batch")
    c.detail("stream_ticks") = timedRecs.map(r => Map(
      "tick" -> r.index, "start_ms" -> r.startMs, "end_ms" -> r.endMs,
      "last_batch" -> r.lastBatch, "newest_event_ms" -> r.newestEventMs))
    c.detail("progress_json") = progress.map { case (q, ps) => q -> ps.map(p => RawJson(p.json)) }
    val lateDelivered = (0 until nTicks).map(k => fleet.lateIn(k).size.toLong).sum
    c.detail("input_rows") = Map("fed" -> ticks.map(_.rows.toLong).sum,
      "late_delivered" -> lateDelivered)
    StreamCheck.verify(c, fleet, tripDim, nTicks, watermarkMs, progress, lateDelivered)
  }

  def watermark(p: StreamingQueryProgress): Long =
    Option(p.eventTime.get("watermark"))
      .map(s => java.time.Instant.parse(s).toEpochMilli).getOrElse(Long.MinValue)
}

/** The stream's output checks against batch over the same on-time rows. */
object StreamCheck {
  import StreamBench._

  def verify(c: Ctx, fleet: Gen.Fleet, tripDim: DataFrame, nTicks: Int,
      watermarkMs: Long, progress: Map[String, Seq[StreamingQueryProgress]],
      lateDelivered: Long): Unit = {
    implicit val spark: SparkSession = c.spark
    import spark.implicits._
    val onTime: Dataset[Telemetry] = spark.range(-fleet.backfillMinutes, nTicks).as[Long]
      .flatMap(m => fleet.onTime(m.toInt).toSeq)
    val onTimeDf = onTime.toDF().cache()

    // metrics: every emitted window equals batch; every closed window emitted
    val cols = Seq("kwh", "dist_m", "passenger_m", "dwell_time_s", "total_s")
    def keyed(df: DataFrame): Map[(Long, Long), Seq[Any]] =
      df.select((Seq("minute", "trip_id") ++ cols).map(col): _*).collect().map { r =>
        (r.getTimestamp(0).getTime, r.getLong(1)) -> (2 until r.size).map(r.get)
      }.toMap
    val streamed = keyed(spark.table("pb_metrics"))
    val batch = keyed(Algorithms.perMinuteMetrics(onTimeDf, tripDim))
    val closedBy = watermarkMs - 60000L
    val mismatched = streamed.filter { case (k, v) => !batch.get(k).contains(v) }
    val missing = batch.keys.filter(k => k._1 + 60000L <= closedBy && !streamed.contains(k))
    c.check("stream.metrics.values", streamed.nonEmpty && mismatched.isEmpty,
      s"${mismatched.size} of ${streamed.size} emitted windows differ from batch, e.g. " +
        mismatched.take(2).map { case (k, v) => s"$k: $v vs ${batch.get(k)}" }.mkString("; "))
    c.check("stream.metrics.closed_windows", missing.isEmpty,
      s"${missing.size} closed windows never emitted, e.g. ${missing.take(3)}")
    c.detail("stream_metric_windows") = streamed.size

    // sessions and session stats: bounds equal to batch
    type Sess = (Long, Long, Long, Long)
    def sess(df: DataFrame): Set[Sess] =
      df.select("trip_id", "time_from", "time_to", "n_samples").distinct().collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
          r.getTimestamp(2).getTime, r.getLong(3))).toSet
    Seq(("halt", Halt), ("park", Park)).foreach { case (name, flag) =>
      val want = sess(Algorithms.brakeSessions(onTimeDf, flag))
      // a session must have closed once the watermark is past its end by
      // the 400 s session timeout plus one tick
      val mustHave = want.filter(_._3 + 460000L <= watermarkMs)
      Seq(s"${name}_sessions", s"${name}_stats").foreach { q =>
        val got = sess(spark.table(s"pb_$q"))
        val extra = got -- want
        val absent = mustHave -- got
        c.check(s"stream.$q.bounds", got.nonEmpty && extra.isEmpty && absent.isEmpty,
          s"$q: ${extra.size} sessions not in batch (e.g. ${extra.take(2)}), " +
            s"${absent.size} closed batch sessions missing (e.g. ${absent.take(2)})")
        c.detail(s"stream_${q}_sessions") = got.size
      }
      val statRows = spark.table(s"pb_${name}_stats").count()
      val statSessions = sess(spark.table(s"pb_${name}_stats")).size
      c.check(s"stream.${name}_stats.rows", statRows == 64L * statSessions,
        s"$statRows stats rows for $statSessions sessions, expected 64 each")
    }
    onTimeDf.unpersist()

    // late samples: every planted late sample delivered is dropped
    Queries.foreach { q =>
      val dropped = progress(q).map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum
      c.check(s"stream.$q.late_dropped", lateDelivered > 0 && dropped == lateDelivered,
        s"$q dropped $dropped late rows, $lateDelivered planted late rows were delivered")
    }
  }
}
