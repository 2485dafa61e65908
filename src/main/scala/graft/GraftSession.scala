package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.NativeFunctions

/** Catalyst extension installing every graft native function
  * ([[NativeFunctions.all]]) once in each session built with it
  * (`.withExtensions(new GraftExtensions)`, which [[GraftSession.builder]]
  * does, or `spark.sql.extensions=graft.GraftExtensions`). This is the only
  * place a native function enters a session: DataFrame callers
  * (`call_function`) and plain SQL resolve the same functions, in derived
  * sessions (`newSession`, streaming clones) too. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    val owner = NativeFunctions.getClass.getName.stripSuffix("$")
    NativeFunctions.all.foreach { case (name, builder) =>
      e.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(owner, name), builder))
    }
  }
}

/** Canonical session factory: the configuration every graft entry point
  * (Verify, Bench, demos, tests) shares. Shuffle partitions default to the
  * local core count — at cluster scale set `partitions` to ~2-3× total
  * executor cores (or rely on AQE coalescing, which is enabled). */
object GraftSession {
  def builder(master: String, partitions: Int): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // transformWithState (the chained-stateful diff stage in
      // Streaming.fullMetricsStream) requires the RocksDB provider; it also
      // keeps streaming state off-heap at scale instead of in executor heap.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    Tables.sessionConfigs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
  }
}
