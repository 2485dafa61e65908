package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession
import graft.sources.Sinks
import graft.ztbus.{Algorithms, Engine, Fixtures}

/** The generators are deterministic per seed, differ across seeds, and the
  * counts the output checks expect match what the processor computes. */
class GenSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[2]", 2).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  override def afterAll(): Unit = spark.stop()

  private def rows(seed: Long, seconds: Long) =
    Gen.Lake(seed, seconds).telemetry(spark).orderBy("id").collect().toSeq

  test("lake telemetry is deterministic per seed and differs across seeds") {
    assert(rows(7, 300) == rows(7, 300))
    assert(rows(7, 300) != rows(8, 300))
    assert(Gen.Lake(7, 300).expectedBatch == Gen.Lake(7, 300).expectedBatch)
    assert(Gen.Lake(7, 300).startMs != Gen.Lake(8, 300).startMs)
  }

  test("fleet ticks are deterministic per seed and differ across seeds") {
    val a = Gen.Fleet(3, 10, 40)
    val b = Gen.Fleet(3, 10, 40)
    val c = Gen.Fleet(4, 10, 40)
    Seq(0, 1, 17).foreach { k =>
      assert(a.tick(k) == b.tick(k))
      assert(a.tick(k) != c.tick(k))
    }
    // each tick carries about one minute of every bus, shuffled
    val t = a.tick(5)
    assert(t.map(_.trip_id).distinct.size >= 9)
    assert(t.map(_.time.getTime) != t.map(_.time.getTime).sorted)
    // held-back samples come back lateTicks later, and only then
    val late = a.late(20 - a.lateTicks)
    assert(late.forall(s => a.tick(20).contains(s)))
    assert(a.onTime(20 - a.lateTicks).toSet.intersect(late.toSet).isEmpty)
  }

  test("planted sessions and minutes match brakeSessions and perMinuteMetrics") {
    Seq(11L, 12L).foreach { seed =>
      val lake = Gen.Lake(seed, 3000)
      val tel = lake.telemetry(spark).cache()
      val trips = spark.createDataFrame(lake.trips).toDF()
      val want = lake.expectedBatch
      val r = Engine.batchRun(tel, trips,
        new java.sql.Timestamp(lake.startMs.values.min),
        new java.sql.Timestamp(lake.startMs.values.max + 3000000L))
      assert(Algorithms.brakeSessions(tel, "status_halt_brake_is_active").count() ==
        want("halt_sessions"))
      assert(Algorithms.brakeSessions(tel, "status_park_brake_is_active").count() ==
        want("park_sessions"))
      assert(Algorithms.perMinuteMetrics(tel, trips).count() == want("metrics"))
      assert(r.activeBuses.count() == want("active_buses"))
      assert(r.results.count() == want("results"))
      assert(r.sessionStats.count() == want("session_stats"))
      tel.unpersist()
    }
  }

  test("expected replay results match replayTick over the lake") {
    val dir = Files.createTempDirectory("perfbench-gen").toFile
    val lake = Gen.Lake(5, 1200)
    Sinks.writeTelemetry(lake.telemetry(spark), s"$dir/lake")
    val tel = spark.read.parquet(s"$dir/lake")
    val trips = spark.createDataFrame(lake.trips).toDF()
    (0 until 3).foreach(_ =>
      Engine.replayTick(spark, tel, trips, s"$dir/ledger", s"$dir/results"))
    val got = spark.read.parquet(s"$dir/results").groupBy("minute", "trip_id").count()
      .collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == lake.expectedReplay(3))
    assert(Sinks.latestLedger(spark, s"$dir/ledger").map(_._2.getTime)
      .contains(Fixtures.SeedEpoch.getTime + 3 * 60000L))
    assert(lake.samplesIn(Fixtures.SeedEpoch.getTime, Fixtures.SeedEpoch.getTime + 60000L)
      == tel.where(col("time") >= lit(Fixtures.SeedEpoch) &&
        col("time") < lit(new java.sql.Timestamp(Fixtures.SeedEpoch.getTime + 60000L))).count())
  }
}
