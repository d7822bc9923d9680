package graft

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, sum, udf}

/** Materialize is the engine's one mid-plan materialization: an eager,
  * reliable checkpoint that computes its input once, pins nothing in the
  * block manager and refuses to run without a checkpoint dir. */
class MaterializeSpec extends SparkSpec {

  test("the input is computed once, across the call and two later " +
    "actions on the result") {
    val calls = spark.sparkContext.longAccumulator("materialize_calls")
    val tick = udf { (x: Long) => calls.add(1); x * 2 }
    val n = 1000L
    val m = Materialize(spark.range(0, n, 1, 4).select(tick(col("id")).as("v")))
    assert(calls.value == n, "the snapshot write computes every row once")
    assert(m.count() == n)
    assert(m.agg(sum(col("v"))).head().getLong(0) == n * (n - 1))
    assert(calls.value == n, s"${calls.value} udf calls for $n rows")
  }

  test("the result is a LogicalRDD over a reliably checkpointed RDD; " +
    "no persistent RDD is left behind") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val m = Materialize(spark.range(100).toDF("id").filter(col("id") % 3 === 0))
    val rdds = m.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }
    assert(rdds.size == 1, m.queryExecution.analyzed.treeString)
    assert(rdds.head.isCheckpointed)
    // a local checkpoint has no file; a reliable one lives in the dir
    assert(rdds.head.getCheckpointFile.isDefined)
    assert(m.count() == 34)
    assert(sc.getPersistentRDDs.keySet == before,
      s"leaked ${sc.getPersistentRDDs.keySet -- before}")
    // dropped snapshots are deleted, not kept for the app's lifetime
    assert(sc.getConf.get(
      "spark.cleaner.referenceTracking.cleanCheckpoints") == "true")
  }

  test("no checkpoint dir: refuses, naming spark.checkpoint.dir") {
    val sc = spark.sparkContext
    val prev = sc.getCheckpointDir
    sc.setCheckpointDir(null)
    val e = try intercept[IllegalArgumentException](
      Materialize(spark.range(3).toDF()))
    finally sc.setCheckpointDir(prev.orNull)
    assert(e.getMessage.contains("spark.checkpoint.dir"), e.getMessage)
    assert(sc.getCheckpointDir.isDefined)
  }
}
