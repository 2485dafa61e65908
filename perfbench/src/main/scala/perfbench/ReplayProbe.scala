package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.Sinks
import graft.ztbus.{Engine, Fixtures}

/** The faithful replay, measured in the traced `batch` run: consecutive
  * [[Engine.replayTick]] calls over the batch lake, with parquet results and
  * ledger sinks. Each tick plans and runs a few small jobs on a pruned
  * one-minute slice, writes results, appends to the ledger and reads it
  * back, so it attributes the `Sinks` ledger/results layers and per-tick
  * planning that a whole-lake `batchRun` never exercises. */
object ReplayProbe {
  val WarmupTicks = 10
  val TracedTicks = 20

  def run(c: Ctx, lake: Gen.Lake, tel: DataFrame, trips: DataFrame): Unit = {
    val spark = c.spark
    val ledger = c.path("ledger")
    val results = c.path("results")
    def tick(): Unit =
      c.tracer.span("engine.replayTick")(Engine.replayTick(spark, tel, trips, ledger, results))

    c.tracer.enabled = false
    val warm = (0 until WarmupTicks).map(_ => Timer.ms(c.op("replay.warmup")(tick()))._2)
    c.tracer.enabled = true
    val timed = (0 until TracedTicks).map(_ => Timer.ms(c.op("replay.tick")(tick()))._2)
    c.tracer.enabled = false
    val ticks = WarmupTicks + TracedTicks
    c.layer("replay.tick_p50_ms") = Stats.median(timed)
    c.layer("replay.tick_p90_ms") = Stats.quantile(timed, 0.9)
    c.detail("replay_warmup_ms") = warm
    c.detail("replay_tick_ms") = timed

    // output check: the ledger advanced one minute per tick from the seed
    // epoch, and each tick wrote five results per live (minute, trip)
    val e = Fixtures.SeedEpoch.getTime
    val tail = Sinks.latestLedger(spark, ledger)
    c.check("replay.ledger_end", tail.exists(_._2.getTime == e + 60000L * ticks),
      s"ledger ends at ${tail.map(_._2)}, expected $ticks minutes after the seed epoch")
    val ledgerRows = spark.read.parquet(ledger).count()
    c.check("replay.ledger_rows", ledgerRows == ticks,
      s"ledger has $ledgerRows rows for $ticks ticks")
    val got = spark.read.parquet(results)
      .groupBy(col("minute"), col("trip_id")).count().collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1)) -> r.getLong(2)).toMap
    val want = lake.expectedReplay(ticks)
    val wrong = (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k))
    c.check("replay.results_per_minute_trip", wrong.isEmpty,
      s"${wrong.size} (minute, trip) keys differ, e.g. " +
        wrong.take(3).map(k => s"$k: ${got.get(k)} vs ${want.get(k)}").mkString("; "))
    c.detail("replay_result_rows") = got.values.sum
  }
}
