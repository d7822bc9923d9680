package graft

import org.apache.spark.sql.SparkSession

/** The one way this engine builds a SparkSession. The CLI, the bench,
  * the oracle gate, the smoke and plan-inspection mains and the test
  * suites all get the same SQL functions, optimizer rules and
  * checkpoint posture, so a plan or a connected-components run does
  * not depend on which entry point started it. */
object GraftSession {

  /** @param cpus `Some(n)`: `local[n]` with n shuffle partitions.
    *             `None`: the master (and partitioning) come from
    *             spark-submit. */
  def build(appName: String, cpus: Option[Int]): SparkSession = {
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // a Materialize snapshot whose frame is dropped is deleted
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    cpus.foreach { n =>
      b.master(s"local[$n]").config("spark.sql.shuffle.partitions", n.toLong)
    }
    val spark = b.getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    GraftExtensions.register(spark)
    // SparkContext applies `spark.checkpoint.dir` itself at start-up.
    // Without it a local session checkpoints to a temp dir, so
    // Materialize and connected components always take their reliable,
    // lineage-truncating path; a cluster must name a shared filesystem
    // dir, and both say so if it does not.
    if (sc.getCheckpointDir.isEmpty && sc.isLocal)
      sc.setCheckpointDir(
        java.nio.file.Files.createTempDirectory("graft_ckpt").toString)
    spark
  }
}
