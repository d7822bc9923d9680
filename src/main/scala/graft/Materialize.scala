package graft

import org.apache.spark.sql.DataFrame

/** The one way this engine materializes an intermediate mid-plan: an
  * eager, reliable `Dataset.checkpoint()` into the session's checkpoint
  * dir.
  *
  *  - Eager: the input is computed once, by the action that writes the
  *    snapshot (`RDD.doCheckpoint` runs inside it), and every later
  *    consumer reads the written rows. Independent AQE stages can never
  *    race to compute it twice.
  *  - Reliable: the snapshot lives on the checkpoint filesystem, not in
  *    executor memory, so a lost executor costs a re-read, not a
  *    recomputation, and nothing is pinned in the block manager.
  *  - Released: `GraftSession.build` sets
  *    `spark.cleaner.referenceTracking.cleanCheckpoints`, so a snapshot
  *    whose frame is dropped is deleted by the context cleaner.
  *
  * The lineage is cut, so a long iterative plan (PageRank, BPE) stops
  * growing at each snapshot. On a cluster `spark.checkpoint.dir` must
  * name a shared filesystem; without one this refuses, as connected
  * components does. */
object Materialize {

  def apply(df: DataFrame): DataFrame = {
    require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
      "Materialize needs a reliable checkpoint dir: set spark.checkpoint.dir")
    df.checkpoint(eager = true)
  }
}
