package org.apache.spark

/** Listener-bus bridge: `SparkContext.listenerBus` is `private[spark]`,
  * but a listener's reader (perfbench's per-layer tracer,
  * `graft.Explain`'s executed-plan capture) needs a real barrier ("all
  * posted events delivered") instead of a fixed sleep. Same
  * one-file-in-the-spark-package technique as
  * [[org.apache.spark.sql.GraftShim]].
  */
object GraftSparkShim {
  /** Blocks until every event posted to the async listener bus so far
    * has been delivered to all registered listeners, waiting up to
    * `timeoutMillis` (the no-arg `waitUntilEmpty()` throws
    * `TimeoutException` after a 10 s default — a backed-up bus after a
    * heavy rep would abort a whole traced run, converting a valid
    * measurement into FAILED; r16 ADVICE). On timeout the barrier
    * degrades to a loud warning: the measurement proceeds with
    * possibly-incomplete listener aggregates rather than dying. */
  def drainListenerBus(sc: SparkContext,
      timeoutMillis: Long = 120000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMillis)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        System.err.println(
          s"[shim] WARNING: listener bus still busy after " +
            s"${timeoutMillis} ms — proceeding; listener aggregates " +
            "may undercount this rep")
    }
}
