package graft

import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan inspector: runs the named queries (all bench queries if none
  * named) into a noop sink and prints, in `explain("formatted")`
  * layout, the plan that actually ran — AQE's finalized adaptive plan
  * with its runtime join choices and coalesced shuffles, not the
  * pre-execution estimate. Usage:
  *   sbt "runMain graft.Explain [sfDir] [query...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.benchQueries.keys.toSeq.sorted
    val spark = GraftSession.build("graft-explain", Some(4))
    // The noop write runs its own QueryExecution; df.queryExecution
    // keeps the initial adaptive plan (isFinalPlan=false). A listener
    // captures the execution that ran, whose executedPlan is final.
    val ran = new AtomicReference[QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = ran.set(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    })
    names.foreach { n =>
      println(s"\n================ $n ================")
      ran.set(null)
      SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      // listener events are delivered asynchronously
      org.apache.spark.GraftSparkShim.drainListenerBus(spark.sparkContext)
      println(Option(ran.get()).fold("(executed plan not delivered)")(
        _.explainString(FormattedMode)))
    }
    spark.stop()
  }
}
