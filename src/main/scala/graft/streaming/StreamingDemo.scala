package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.ztbus.Fixtures

/** End-to-end streaming run over the ZTBus fixture: feeds telemetry through
  * an in-memory stream in minute-sized micro-batches (simulating the
  * replay clock) into both streaming queries — the five-algorithm metric
  * aggregation (with the trips join) and the stateful sessionizer — and
  * prints what each emits. */
object StreamingDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    implicit val s = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val telemetry = Fixtures.telemetry()
    val trips = Fixtures.trips.toDF()

    val metricsIn = MemoryStream[graft.ztbus.Telemetry]
    val metricsQ = Streaming.fullMetricsStream(metricsIn.toDS(), Some(trips))
      .writeStream
      .outputMode("append").format("memory").queryName("metrics").start()

    val sessIn = MemoryStream[Streaming.FlagSample]
    val sessQ = Streaming.sessionize(sessIn.toDS()).writeStream
      .outputMode("append").format("memory").queryName("sessions").start()

    // replay in minute-sized micro-batches, like the simulator's 60x clock
    telemetry.groupBy(_.time.getTime / 60000L).toSeq.sortBy(_._1)
      .foreach { case (_, batch) =>
        metricsIn.addData(batch)
        sessIn.addData(batch.map(t =>
          Streaming.FlagSample(t.trip_id, t.time, t.status_halt_brake_is_active)))
        metricsQ.processAllAvailable()
        sessQ.processAllAvailable()
      }

    println(s"[stream] finalized metric windows: ${spark.table("metrics").count()}")
    spark.table("metrics").orderBy("minute", "trip_id").show(6, truncate = false)
    println(s"[stream] emitted halt-brake sessions: ${spark.table("sessions").count()}")
    spark.table("sessions").orderBy("trip_id", "time_from").show(truncate = false)

    metricsQ.stop(); sessQ.stop(); spark.stop()
  }
}
