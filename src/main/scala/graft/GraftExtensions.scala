package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** SQL surface for the native expression tier (SURVEY §2.11): registers
  * `cosine_sim(a, b)`, `nfc_normalize(s)` (via its own object),
  * `kmv_sketch(h, k)` and `freq_sketch(v, k)` so pure-SQL users get the
  * codegen'd kernels and bounded-state sketch aggregates.
  *
  * Two wiring paths:
  *  - cluster: `--conf spark.sql.extensions=graft.GraftExtensions`
  *    (injected at session build, the SparkSessionExtensions contract)
  *  - existing session: `GraftExtensions.register(spark)`, which
  *    [[GraftSession.build]] calls for every main and the tests
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.descriptors.foreach(ext.injectFunction)
    // sliding-window theta-join → binned equi-join (Spark has no native
    // range-join optimization; see plans.BinnedIntervalJoin)
    ext.injectOptimizerRule(_ => plans.BinnedIntervalJoin)
    // element_at(entries, 'k')-only wds reads seek past every other
    // entry's payload (see plans.WdsPayloadPrune). At this injection
    // point (operator-optimization batch, pre-V2-pushdown) the rule
    // matches the DataSourceV2Relation shape and rewrites its options.
    ext.injectOptimizerRule(_ => plans.WdsPayloadPrune)
  }
}

object GraftExtensions {

  private type Descriptor =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def cosineSimBuilder(children: Seq[Expression]): Expression = {
    require(children.length == 2, "cosine_sim(a, b) takes two arrays")
    functions.CosineSimilarity(children.head, children(1))
  }

  /** The k argument of a sketch must be a literal int: it sizes the
    * aggregation buffer at plan time. */
  private def literalK(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn(col, k): k must be an INT literal, got $other")
  }

  private def kmvBuilder(children: Seq[Expression]): Expression = {
    require(children.length == 2, "kmv_sketch(hash_col, k) takes 2 args")
    functions.KmvAgg(children.head, literalK(children(1), "kmv_sketch"))
  }

  private def freqBuilder(children: Seq[Expression]): Expression = {
    require(children.length == 2, "freq_sketch(col, k) takes 2 args")
    functions.MgAgg(children.head, literalK(children(1), "freq_sketch"))
  }

  private[graft] val cosineSimDescriptor: Descriptor =
    (FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(
        classOf[functions.CosineSimilarity].getName, "cosine_sim"),
      cosineSimBuilder)

  private[graft] val kmvDescriptor: Descriptor =
    (FunctionIdentifier("kmv_sketch"),
      new ExpressionInfo(classOf[functions.KmvAgg].getName, "kmv_sketch"),
      kmvBuilder)

  private[graft] val freqDescriptor: Descriptor =
    (FunctionIdentifier("freq_sketch"),
      new ExpressionInfo(classOf[functions.MgAgg].getName, "freq_sketch"),
      freqBuilder)

  private[graft] val descriptors: Seq[Descriptor] =
    Seq(cosineSimDescriptor, kmvDescriptor, freqDescriptor)

  /** Register into an already-built session: functions into the
    * registry, the interval-join rule into the experimental optimizer
    * batch (the injection point that doesn't require session build). */
  def register(spark: SparkSession): Unit = {
    descriptors.foreach { case (id, info, fb) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, fb)
    }
    if (!spark.experimental.extraOptimizations
        .contains(plans.BinnedIntervalJoin))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ plans.BinnedIntervalJoin
    // the "User Provided Optimizers" batch runs LAST (post-V2-pushdown)
    // so here the rule matches the DataSourceV2ScanRelation shape and
    // swaps the built WdsScan
    if (!spark.experimental.extraOptimizations
        .contains(plans.WdsPayloadPrune))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ plans.WdsPayloadPrune
  }
}
