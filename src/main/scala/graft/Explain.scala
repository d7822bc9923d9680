package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan inspector: runs the named queries (all bench queries if none
  * named) into a noop sink and prints, in `explain("formatted")`
  * layout, every plan that actually ran for each query, in order — AQE's
  * finalized adaptive plans with their runtime join choices and
  * coalesced shuffles, not the pre-execution estimate. A query that runs
  * eager actions of its own (a stage's collect, a write) shows them
  * before the noop sink's plan. Usage:
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
    // captures each execution that ran, whose executedPlan is final.
    val ran = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = ran.add(funcName -> qe): Unit
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    })
    names.foreach { n =>
      println(s"\n================ $n ================")
      org.apache.spark.GraftSparkShim.drainListenerBus(spark.sparkContext)
      ran.clear()
      SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      // listener events are delivered asynchronously
      org.apache.spark.GraftSparkShim.drainListenerBus(spark.sparkContext)
      val plans = ran.asScala.toSeq
      if (plans.isEmpty) println("(executed plan not delivered)")
      plans.zipWithIndex.foreach { case ((action, qe), i) =>
        println(s"---------------- ${i + 1}/${plans.size}: $action ----------------")
        println(qe.explainString(FormattedMode))
      }
    }
    spark.stop()
  }
}
