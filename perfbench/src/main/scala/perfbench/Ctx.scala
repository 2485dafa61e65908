package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line arguments of one benchmark run. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val known = Set("workload", "seed", "seconds", "trace")
    require(argv.length % 2 == 0 && kv.size * 2 == argv.length &&
      kv.keySet.subsetOf(known),
      s"usage: --workload <name> --seed <n> --seconds <s> --trace <0|1>")
    Args(kv.getOrElse("workload", sys.error("--workload is required")),
      kv.getOrElse("seed", "1").toLong,
      kv.getOrElse("seconds", "10").toInt,
      kv.getOrElse("trace", "0") match {
        case "0" => false
        case "1" => true
        case other => sys.error(s"--trace must be 0 or 1, got $other")
      })
  }
}

/** State shared by a run: the session, the tracer and probe, the run's
  * work directory, and what the workload reports. */
final class Ctx(val args: Args, val cores: Int, val work: File) {
  var spark: SparkSession = _
  var tracer: Tracer = _
  var probe: Option[Probe] = None

  /** End-to-end metrics (name → value, unit), reported with --trace 0. */
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer metrics (name → value), reported with --trace 1. */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Extra artifact content: samples, counts, check details. */
  val detail = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  /** The timed operations: (index, wall ms). With --trace 1 the odd ones
    * run traced and the even ones untraced. */
  var timed: Seq[(Int, Double)] = Nil
  def traced(i: Int): Boolean = args.trace && i % 2 == 1
  def untracedMs: Seq[Double] = timed.filterNot(t => traced(t._1)).map(_._2)
  def tracedMs: Seq[Double] = timed.filter(t => traced(t._1)).map(_._2)

  /** Reports the untraced timed operations: median and p90 as end-to-end
    * metrics; the sample count and the tail the count supports (the
    * highest percentile with ten samples beyond it) in the artifact. */
  def reportOps(): Unit = {
    val ms = untracedMs
    e2e("op_p50_ms") = (Stats.median(ms), "ms")
    e2e("op_p90_ms") = (Stats.quantile(ms, 0.9), "ms")
    detail("op_ms") = timed.map(_._2)
    detail("op_samples") = ms.size
    detail("op_tail") = Stats.tailPercentile(ms.size)
      .map(p => Map("percentile" -> p, "ms" -> Stats.quantile(ms, p / 100.0)))
  }

  var attempted = 0L
  var failed = 0L
  private var consecutiveFailures = 0

  def path(name: String): String = new File(work, name).getAbsolutePath

  /** Millis since JVM start — the clock `setup_s` is measured on. */
  def sinceJvmStartS: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  /** Marks the start of a run phase: logged to stderr and kept in the
    * artifact as seconds since JVM start. */
  val phases = mutable.LinkedHashMap.empty[String, Double]
  def phase(name: String): Unit = {
    val t = sinceJvmStartS
    phases(name) = t
    System.err.println(f"[perfbench] $t%8.2f s  $name")
  }

  /** Runs one counted operation; an exception counts it as failed and is
    * reported, never dropped. Three failures in a row abort the run. */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try {
      val r = body
      consecutiveFailures = 0
      Some(r)
    } catch {
      case e: Exception =>
        failed += 1
        consecutiveFailures += 1
        System.err.println(s"[perfbench] operation $name failed: $e")
        e.printStackTrace()
        if (consecutiveFailures >= 3)
          throw new RuntimeException(s"three consecutive failures, last in $name", e)
        None
    }
  }

  /** Records one output check; a mismatch counts as a failed operation. */
  def check(name: String, ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] check $name FAILED: $what")
    }
    checks += ((name, ok, if (ok) "" else what))
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum

  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1e6

  /** VmHWM of this process in MB (includes off-heap RocksDB state). */
  def rssPeakMb: Double = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.get
    finally src.close()
  }.getOrElse(Double.NaN)
}
