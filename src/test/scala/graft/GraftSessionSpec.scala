package graft

import graft.plans.{BinnedIntervalJoin, WdsPayloadPrune}
import org.apache.spark.sql.functions.{col, element_at}

/** The shared test session comes from GraftSession.build, so every
  * suite runs with the production rules and checkpoint posture — no
  * suite has to call GraftExtensions.register first. */
class GraftSessionSpec extends SparkSpec {

  private def ruleCounts: (Int, Int) = {
    val rules = spark.experimental.extraOptimizations
    (rules.count(_ == BinnedIntervalJoin), rules.count(_ == WdsPayloadPrune))
  }

  test("session carries each graft optimizer rule exactly once") {
    assert(ruleCounts == (1, 1), spark.experimental.extraOptimizations)
  }

  test("session has a reliable checkpoint dir") {
    assert(spark.sparkContext.getCheckpointDir.isDefined)
  }

  test("json-only wds read is pruned without an explicit register") {
    val dir = java.nio.file.Files.createTempDirectory("gss").toString
    val out = new java.io.FileOutputStream(s"$dir/shard.tar")
    val w = new graft.wds.TarIO.TarWriter(out)
    (0 until 3).foreach { i =>
      w.write(wds.Sample(f"$i%06d", "", Map(
        "json" -> s"""{"i":$i}""".getBytes("UTF-8"),
        "bin" -> Array.fill[Byte](4096)(1)))): Unit
    }
    w.close()
    val df = spark.read.format("wds").load(s"$dir/shard.tar")
      .select(element_at(col("entries"), "json").cast("string").as("j"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("payload_select=[*.json]"), plan)
    assert(df.collect().map(_.getString(0)).sorted.toSeq ==
      (0 until 3).map(i => s"""{"i":$i}"""))
  }

  test("build again returns the shared session and adds no rule") {
    val again = GraftSession.build("graft-test-again", Some(4))
    GraftSession.build("graft-test-again", Some(4))
    assert(again eq spark)
    assert(ruleCounts == (1, 1), spark.experimental.extraOptimizations)
  }
}
