package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext

/** One traced interval on the driver's wall clock (epoch milliseconds, as
  * fractions, so it lines up with Spark listener timestamps). */
final case class Span(id: Int, name: String, parent: Int, startMs: Double,
    endMs: Double, run: String, gcMs: Double) {
  def durationMs: Double = endMs - startMs
}

object Trace {
  /** Job-group prefix that marks a Spark job as submitted inside a span. */
  val GroupPrefix = "perfbench-span-"

  def spanOfGroup(group: String): Option[Int] =
    if (group != null && group.startsWith(GroupPrefix))
      scala.util.Try(group.stripPrefix(GroupPrefix).toInt).toOption
    else None

  /** Length of the union of `intervals`, each clipped to [lo, hi). */
  def coveredMs(lo: Double, hi: Double, intervals: Seq[(Double, Double)]): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { covered += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) covered += curB - curA
    covered
  }

  /** A span's self time: its duration minus the part of its interval that
    * its children cover (overlapping children are counted once). */
  def selfMs(span: Span, children: Seq[(Double, Double)]): Double =
    span.durationMs - coveredMs(span.startMs, span.endMs, children)
}

/** Records spans around the benchmark's calls into the processor. While a
  * span is open, Spark jobs submitted from the driver thread carry its id as
  * their job group, so listener events can be attributed to it. Spans stay
  * in memory until the run ends. A disabled tracer only runs the body. */
final class Tracer(sc: SparkContext, run: String, gcMs: () => Long) {
  private val anchorWallMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Double, Long)] = Nil
  private var nextId = 0
  @volatile var enabled = false

  def nowMs: Double = anchorWallMs + (System.nanoTime() - anchorNs) / 1e6

  def spans: Seq[Span] = synchronized(done.toSeq)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      val start = nowMs
      stack = (id, name, start, gcMs()) :: stack
      sc.setJobGroup(Trace.GroupPrefix + id, name, interruptOnCancel = false)
      try body
      finally {
        val end = nowMs
        val gc = gcMs() - stack.head._4
        stack = stack.tail
        stack.headOption match {
          case Some((pid, pname, _, _)) =>
            sc.setJobGroup(Trace.GroupPrefix + pid, pname, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        synchronized(done += Span(id, name, parent, start, end, run, gc.toDouble))
      }
    }
}
