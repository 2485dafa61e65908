package perfbench

import java.sql.Timestamp
import java.time.Instant
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ztbus.{Fixtures, Telemetry, Trip}

/** Seeded input generators. Every value is a pure function of the seed and
  * the sample's coordinates, so the same seed gives the same inputs on any
  * core count and partitioning, and the output sizes the checks expect are
  * derived from the generator's own parameters. */
object Gen {

  /** 64-bit mix of a few longs (SplitMix64 finalizer): the per-sample
    * randomness source, stateless so any sample can be regenerated alone. */
  def mix(xs: Long*): Long = {
    var h = 0x9E3779B97F4A7C15L
    xs.foreach { x =>
      var z = h ^ (x + 0x9E3779B97F4A7C15L + (h << 6) + (h >>> 2))
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      h = z ^ (z >>> 31)
    }
    h
  }

  /** Uniform double in [0, 1) from [[mix]]. */
  def unit(xs: Long*): Double = (mix(xs: _*) >>> 11).toDouble / (1L << 53)

  /** Planted flag runs `(s + offset) % period < len` over `[0, n)`. */
  final case class Runs(period: Int, len: Int, offset: Int) {
    def active(s: Long): Boolean = (s + offset) % period < len
    /** Maximal runs of `active` over s in [0, n), counted by walking. */
    def count(n: Long): Long = {
      var runs = 0L
      var prev = false
      var s = 0L
      while (s < n) {
        val a = active(s)
        if (a && !prev) runs += 1
        prev = a
        s += 1
      }
      runs
    }
  }

  /** The reference-shaped lake behind `batch` and `replay`: three trips on
    * two buses (the fixture's trip dimension), each `secondsPerTrip` 1 Hz
    * samples, starting within ten minutes before the replay seed epoch so
    * every trip is live from the first replay tick. The seed moves the
    * start offsets, waveform phases, noise, GNSS nulls and the phase of the
    * planted brake runs; the row count and the brake duty cycle are fixed,
    * so the cost does not depend on the seed. */
  final case class Lake(seed: Long, secondsPerTrip: Long) {
    private val base = Fixtures.trips

    val startMs: Map[Long, Long] = base.map(t =>
      t.id -> (Fixtures.SeedEpoch.getTime -
        1000L * ((mix(seed, t.id, 1) >>> 1) % 600L))).toMap
    // The brake duty cycle (period, length) differs per trip but not per
    // seed: the rows inside sessions drive the session-stats cost, so a
    // seeded duty cycle would make the cost depend on the seed. The seed
    // moves only the phase of the runs.
    val halt: Map[Long, Runs] = base.map { t =>
      val p = 80 + ((mix(t.id, 2) >>> 1) % 41).toInt
      t.id -> Runs(p, 3 + ((mix(t.id, 3) >>> 1) % 10).toInt,
        ((mix(seed, t.id, 4) >>> 1) % p).toInt)
    }.toMap
    val park: Map[Long, Runs] = base.map { t =>
      val p = 180 + ((mix(t.id, 5) >>> 1) % 81).toInt
      t.id -> Runs(p, 2 + ((mix(t.id, 6) >>> 1) % 7).toInt,
        ((mix(seed, t.id, 7) >>> 1) % p).toInt)
    }.toMap
    val phase: Map[Long, Double] =
      base.map(t => t.id -> unit(seed, t.id, 8) * 2 * math.Pi).toMap

    def rows: Long = secondsPerTrip * base.size

    def trips: Seq[Trip] = base.map(t => t.copy(
      start_time = new Timestamp(startMs(t.id)),
      end_time = new Timestamp(startMs(t.id) + 1000L * secondsPerTrip)))

    /** Telemetry as a DataFrame built on executors from `spark.range`. */
    def telemetry(spark: SparkSession): DataFrame = {
      val perTrip = base.map(t => (t.id, t.route_id.toInt, startMs(t.id),
        phase(t.id), halt(t.id), park(t.id)))
      val tripDf = spark.createDataFrame(perTrip.map {
        case (id, route, start, ph, h, p) =>
          (id, route, start, ph, h.period, h.len, h.offset,
            p.period, p.len, p.offset)
      }).toDF("trip_id", "route", "start_ms", "phase", "h_p", "h_l", "h_o",
        "p_p", "p_l", "p_o")
      val s = col("s")
      val noise = (abs(xxhash64(lit(seed), col("trip_id"), s)) % 1000) / 1000.0
      val gnssNull = (abs(xxhash64(lit(seed + 1), col("trip_id"), s)) % 50) === 0
      val speed = lit(6.0) + lit(3.0) * sin(s / 20.0 + col("phase")) + noise
      def gnss(v: org.apache.spark.sql.Column) = when(!gnssNull, v)
      spark.range(0, secondsPerTrip).withColumnRenamed("id", "s")
        .crossJoin(broadcast(tripDf))
        .select(
          (col("trip_id") * 1000000000L + s).as("id"),
          col("trip_id"),
          timestamp_millis(col("start_ms") + s * 1000L).as("time"),
          (lit(50.0) + lit(20.0) * cos(s / 15.0 + col("phase")) + noise * 5)
            .as("electric_power_demand"),
          (lit(8.0) + (s % 10) * 0.1 + noise).as("temperature_ambient"),
          when(((s + col("h_o")) % col("h_p")) < col("h_l"), lit(5.0) + noise)
            .otherwise(1.0).as("traction_brake_pressure"),
          (lit(1000.0) + s % 50 + noise).as("traction_traction_force"),
          gnss(lit(400.0) + s * 0.01).as("gnss_altitude"),
          gnss((s % 360).cast("double")).as("gnss_course"),
          gnss(lit(47.37) + s * 1e-5).as("gnss_latitude"),
          gnss(lit(8.54) + s * 1e-5).as("gnss_longitude"),
          col("route").as("itcs_bus_route_id"),
          ((s / 60).cast("int") % 30 + 3).as("itcs_number_of_passengers"),
          concat(lit("stop-"), (s / 120).cast("long") % 5).as("itcs_stop_name"),
          (lit(2.0) * sin(s / 9.0 + col("phase"))).as("odometry_articulation_angle"),
          (lit(10.0) * sin(s / 11.0) + noise).as("odometry_steering_angle"),
          speed.as("odometry_vehicle_speed"),
          (speed * 1.01).as("odometry_wheel_speed_fl"),
          (speed * 0.99).as("odometry_wheel_speed_fr"),
          speed.as("odometry_wheel_speed_ml"),
          (speed * 1.02).as("odometry_wheel_speed_mr"),
          (speed * 0.98).as("odometry_wheel_speed_rl"),
          (speed * 1.03).as("odometry_wheel_speed_rr"),
          ((s % 120) < 10).as("status_door_is_open"),
          (s % 2 === 0).as("status_grid_is_available"),
          (((s + col("h_o")) % col("h_p")) < col("h_l"))
            .as("status_halt_brake_is_active"),
          (((s + col("p_o")) % col("p_p")) < col("p_l"))
            .as("status_park_brake_is_active"))
    }

    private def minuteOf(ms: Long): Long = Math.floorDiv(ms, 60000L)

    /** Distinct calendar minutes of a trip's samples inside [fromMs, toMs). */
    private def minutesIn(trip: Long, fromMs: Long, toMs: Long): Seq[Long] = {
      val lo = math.max(fromMs, startMs(trip))
      val hi = math.min(toMs, startMs(trip) + 1000L * secondsPerTrip) // exclusive
      if (lo >= hi) Nil
      else {
        // samples sit on whole seconds from the trip start
        val first = startMs(trip) + 1000L *
          Math.floorDiv(lo - startMs(trip) + 999L, 1000L)
        val last = startMs(trip) + 1000L *
          Math.floorDiv(hi - 1 - startMs(trip), 1000L)
        if (first > last) Nil else minuteOf(first) to minuteOf(last)
      }
    }

    /** Samples of all trips with event time in [fromMs, toMs). */
    def samplesIn(fromMs: Long, toMs: Long): Long = base.map { t =>
      val st = startMs(t.id)
      val first = math.max(0L, Math.floorDiv(fromMs - st + 999L, 1000L))
      val end = math.min(secondsPerTrip, Math.floorDiv(toMs - st + 999L, 1000L))
      math.max(0L, end - first)
    }.sum

    private val everything = (Long.MinValue / 4, Long.MaxValue / 4)

    /** Output row counts of one `batchRun` over the whole lake. */
    def expectedBatch: Map[String, Long] = {
      val perTrip = base.map(t => minutesIn(t.id, everything._1, everything._2))
      val halts = base.map(t => halt(t.id).count(secondsPerTrip)).sum
      val parks = base.map(t => park(t.id).count(secondsPerTrip)).sum
      val metrics = perTrip.map(_.size.toLong).sum
      Map(
        "active_buses" -> perTrip.flatten.distinct.size.toLong,
        "metrics" -> metrics,
        "results" -> 5 * metrics,
        "halt_sessions" -> halts,
        "park_sessions" -> parks,
        "session_stats" -> 16 * (halts + parks))
    }

    /** Result rows `replay` must have written per (minute, trip) after
      * `ticks` ticks from the seed epoch: five per tick whose one-minute
      * slice holds samples of that trip in that calendar minute. */
    def expectedReplay(ticks: Int): Map[(Long, Long), Long] = {
      val e = Fixtures.SeedEpoch.getTime
      (0 until ticks).flatMap { k =>
        base.flatMap(t => minutesIn(t.id, e + 60000L * k, e + 60000L * (k + 1))
          .map(m => (m * 60000L, t.id)))
      }.groupBy(identity).map { case (key, v) => key -> 5L * v.size }
    }
  }

  /** The `stream` fleet: `buses` buses, each running back-to-back trips of
    * seeded length (10-40 min) with short seeded gaps, so about `buses`
    * trips are live at any time and trips keep ending (sessions close,
    * timers fire, state is evicted). Tick 0 delivers the
    * [[backfillMinutes]] simulated minutes before the epoch together with
    * minute 0, so the watermark exists and windows close from tick 1 on;
    * tick k >= 1 delivers minute [epoch + k min, epoch + (k+1) min). Arrival order is
    * shuffled by the seed. A seeded ~0.2 % of samples is held back from its
    * minute and delivered [[lateTicks]] ticks later, more than twice the
    * 400 s watermark late. */
  final case class Fleet(seed: Long, buses: Int, horizonTicks: Int) {
    val epochMs: Long = Instant.parse("2021-03-09T14:15:00Z").toEpochMilli
    val lateTicks = 15
    val backfillMinutes = 10

    final case class FleetTrip(id: Long, bus: Int, startMs: Long, seconds: Int,
        halt: Array[(Int, Int)], park: Array[(Int, Int)]) {
      def endMs: Long = startMs + 1000L * seconds
    }

    /** Alternating off/on run lengths from `rng`: the on-intervals. */
    private def plantRuns(rng: SplittableRandom, n: Int, offLo: Int, offHi: Int,
        onLo: Int, onHi: Int): Array[(Int, Int)] = {
      val b = Array.newBuilder[(Int, Int)]
      var s = rng.nextInt(offLo, offHi)
      while (s < n) {
        val len = rng.nextInt(onLo, onHi)
        b += ((s, math.min(n, s + len)))
        s += len + rng.nextInt(offLo, offHi)
      }
      b.result()
    }

    val trips: IndexedSeq[FleetTrip] = (0 until buses).flatMap { b =>
      val rng = new SplittableRandom(mix(seed, b, 11))
      val horizonMs = epochMs + 60000L * (horizonTicks + 1)
      var start = epochMs - 60000L * (lateTicks + 1) + 1000L * rng.nextInt(0, 60)
      var i = 0
      val out = IndexedSeq.newBuilder[FleetTrip]
      while (start < horizonMs) {
        val secs = rng.nextInt(600, 2401)
        out += FleetTrip(100000L * (b + 1) + i, b, start, secs,
          plantRuns(rng, secs, 20, 121, 3, 31),
          plantRuns(rng, secs, 300, 901, 5, 61))
        start += 1000L * (secs + rng.nextInt(0, 61))
        i += 1
      }
      out.result()
    }

    def tripDim: Seq[Trip] = trips.map(t => Trip(t.id, s"trip-${t.id}",
      bus_id = 1000L + t.bus, route_id = 30L + t.bus % 5,
      new Timestamp(t.startMs), new Timestamp(t.endMs),
      0.0, 0.0, 0.0, 0, 0, 0.0, 0.0, 0.0, 0.0))

    private val byBus: Map[Int, IndexedSeq[FleetTrip]] = trips.groupBy(_.bus)

    private def inRuns(runs: Array[(Int, Int)], s: Int): Boolean =
      runs.exists { case (a, b) => s >= a && s < b }

    /** Whether a sample is held back and delivered [[lateTicks]] late. */
    def isLate(trip: Long, s: Int): Boolean = (mix(seed, trip, s, 13) >>> 1) % 500 == 0

    def sample(t: FleetTrip, s: Int): Telemetry = {
      val u = unit(seed, t.id, s, 17)
      val ph = unit(seed, t.id, 19) * 2 * math.Pi
      val speed = 6.0 + 3.0 * math.sin(s / 20.0 + ph) + u
      val gnssNull = (mix(seed, t.id, s, 23) >>> 1) % 50 == 0
      def gnss(v: Double) = if (gnssNull) None else Some(v)
      val halt = inRuns(t.halt, s)
      Telemetry(
        id = t.id * 100000L + s,
        trip_id = t.id,
        time = new Timestamp(t.startMs + 1000L * s),
        electric_power_demand = 50.0 + 20.0 * math.cos(s / 15.0 + ph) + 5 * u,
        temperature_ambient = 8.0 + (s % 10) * 0.1 + u,
        traction_brake_pressure = if (halt) 5.0 + u else 1.0,
        traction_traction_force = 1000.0 + s % 50 + u,
        gnss_altitude = gnss(400.0 + s * 0.01),
        gnss_course = gnss((s % 360).toDouble),
        gnss_latitude = gnss(47.37 + s * 1e-5),
        gnss_longitude = gnss(8.54 + s * 1e-5),
        itcs_bus_route_id = 30 + t.bus % 5,
        itcs_number_of_passengers = (s / 60) % 30 + 3,
        itcs_stop_name = s"stop-${(s / 120) % 5}",
        odometry_articulation_angle = 2.0 * math.sin(s / 9.0 + ph),
        odometry_steering_angle = 10.0 * math.sin(s / 11.0) + u,
        odometry_vehicle_speed = speed,
        odometry_wheel_speed_fl = speed * 1.01,
        odometry_wheel_speed_fr = speed * 0.99,
        odometry_wheel_speed_ml = speed,
        odometry_wheel_speed_mr = speed * 1.02,
        odometry_wheel_speed_rl = speed * 0.98,
        odometry_wheel_speed_rr = speed * 1.03,
        status_door_is_open = s % 120 < 10,
        status_grid_is_available = s % 2 == 0,
        status_halt_brake_is_active = halt,
        status_park_brake_is_active = inRuns(t.park, s))
    }

    /** Every sample whose event time falls in simulated minute k. */
    def minute(k: Int): Iterator[(FleetTrip, Int)] = {
      val lo = epochMs + 60000L * k
      val hi = lo + 60000L
      (0 until buses).iterator.flatMap { b =>
        byBus(b).iterator.filter(t => t.startMs < hi && t.endMs > lo).flatMap { t =>
          val first = math.max(0L, Math.floorDiv(lo - t.startMs + 999L, 1000L)).toInt
          val last = math.min(t.seconds.toLong,
            Math.floorDiv(hi - t.startMs + 999L, 1000L)).toInt
          (first until last).iterator.map(s => (t, s))
        }
      }
    }

    /** The simulated minutes tick k delivers on time. */
    def minutesOf(k: Int): Seq[Int] = if (k == 0) -backfillMinutes to 0 else Seq(k)

    /** Samples of minute k that arrive on time. */
    def onTime(k: Int): Iterator[Telemetry] =
      minute(k).filterNot { case (t, s) => isLate(t.id, s) }
        .map { case (t, s) => sample(t, s) }

    /** Samples of minute k held back to tick k + [[lateTicks]]. */
    def late(k: Int): Seq[Telemetry] =
      minute(k).filter { case (t, s) => isLate(t.id, s) }
        .map { case (t, s) => sample(t, s) }.toSeq

    /** The held-back samples tick k delivers. */
    def lateIn(k: Int): Seq[Telemetry] = if (k >= 1) late(k - lateTicks) else Nil

    /** What tick k delivers, shuffled by the seed. */
    def tick(k: Int): IndexedSeq[Telemetry] = {
      require(k < horizonTicks, s"tick $k beyond the generated horizon")
      val rows = (minutesOf(k).iterator.flatMap(onTime) ++ lateIn(k)).toArray
      val rng = new SplittableRandom(mix(seed, k, 29))
      var i = rows.length - 1
      while (i > 0) {
        val j = rng.nextInt(i + 1)
        val tmp = rows(i); rows(i) = rows(j); rows(j) = tmp
        i -= 1
      }
      rows.toIndexedSeq
    }
  }
}
