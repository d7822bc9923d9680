package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class BinnedIntervalJoinSpec extends SparkSpec {

  /** Runs `body` with the rule installed exactly once (or not at all),
    * whatever the shared session carries, then restores its rules. */
  private def withRules[T](rule: Boolean)(body: => T): T = {
    val prev = spark.experimental.extraOptimizations
    val others = prev.filterNot(_ == BinnedIntervalJoin)
    spark.experimental.extraOptimizations =
      if (rule) others :+ BinnedIntervalJoin else others
    try body
    finally spark.experimental.extraOptimizations = prev
  }
  private def withRule[T](body: => T): T = withRules(rule = true)(body)

  /** Events around epoch 0 (negative micros included) plus a dense hot
    * user — the shapes that break naive trunc-vs-floor reasoning and
    * naive per-user joins respectively. */
  private def fixture: DataFrame = {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    val rows = (0 until 400).map { i =>
      val user = if (i % 4 == 0) 1L else (i % 7).toLong
      val ts = new java.sql.Timestamp(
        -3 * 3600 * 1000L + rng.nextInt(8 * 3600 * 1000).toLong)
      val kind = if (i % 2 == 0) "click" else "purchase"
      (i.toLong, user, ts, kind)
    } ++ Seq( // exact bin-boundary pairs
      (1000L, 9L, new java.sql.Timestamp(0L), "click"),
      (1001L, 9L, new java.sql.Timestamp(3600 * 1000L), "purchase"),
      (1002L, 9L, new java.sql.Timestamp(3600 * 1000L + 1), "purchase"),
      (1003L, 8L, new java.sql.Timestamp(-3600 * 1000L), "click"),
      (1004L, 8L, new java.sql.Timestamp(-1L), "purchase"))
    rows.toDF("event_id", "user_id", "ts", "event_type")
  }

  private def naive(ev: DataFrame): DataFrame = {
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"))
    c.join(p, c("user_id") === p("p_user") &&
      col("purchase_ts") > col("click_ts") &&
      col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("click_ts"), col("purchase_ts"))
  }

  test("rewrite preserves results exactly (boundaries, negative epochs)") {
    val ev = fixture.cache()
    val plain = withRules(rule = false) {
      naive(ev).collect().map(_.toString).sorted }
    val rewritten = withRule { naive(ev).collect().map(_.toString).sorted }
    assert(plain.nonEmpty)
    assert(rewritten.toSeq == plain.toSeq)
    ev.unpersist()
  }

  test("rewrite fires: plan gains a generate and a bin equi-key") {
    withRule {
      val opt = naive(fixture).queryExecution.optimizedPlan
      val gens = opt.collect {
        case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
      }
      assert(gens.nonEmpty, s"no Generate in:\n$opt")
      val joinKeys = opt.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
          j.condition.map(_.references.map(_.name)
            .count(_.startsWith("__graft_bin"))).getOrElse(0)
      }
      assert(joinKeys.exists(_ > 0), s"no bin conjunct in:\n$opt")
      // and it must not re-fire on its own output (fixpoint guard)
      val nGen = gens.length
      assert(nGen == 1, s"rule re-fired: $nGen generates")
    }
  }

  test("no-interval joins and non-inner joins are left alone") {
    withRule {
      import spark.implicits._
      val a = Seq((1L, 2L)).toDF("k", "v")
      val b = Seq((1L, 3L)).toDF("k", "w")
      val plain = a.join(b, "k").queryExecution.optimizedPlan
      assert(plain.collect {
        case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
      }.isEmpty)
      val ev = fixture
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"))
      val left = c.join(p, c("user_id") === p("p_user") &&
        col("purchase_ts") > col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
        "left")
      assert(left.queryExecution.optimizedPlan.collect {
        case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
      }.isEmpty, "rewrote a non-inner join")
    }
  }

  test("TIMESTAMP_NTZ interval joins are left alone (UnixMicros is tz-only)") {
    withRule {
      import spark.implicits._
      val c = Seq((1L, "2024-01-01T10:00:00")).toDF("user_id", "s")
        .select(col("user_id"), col("s").cast("timestamp_ntz").as("click_ts"))
      val p = Seq((1L, "2024-01-01T10:30:00")).toDF("p_user", "s")
        .select(col("p_user"), col("s").cast("timestamp_ntz").as("purchase_ts"))
      val j = c.join(p, c("user_id") === p("p_user") &&
        col("purchase_ts") > col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      // must still plan and run (no ill-typed UnixMicros(ntz))
      assert(j.count() == 1)
      assert(j.queryExecution.optimizedPlan.collect {
        case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
      }.isEmpty)
    }
  }

  test("hand-binned joins (qe08 marker columns) are not re-binned") {
    withRule {
      val ev = fixture
      val df = graft.queries.EventQueries.intervalBinFrom(ev)
      val gens = df.queryExecution.optimizedPlan.collect {
        case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
      }
      assert(gens.length == 1, s"re-binned a hand-binned join:\n$gens")
    }
  }

  test("spark.graft.binIntervalJoin.enabled=false disables the rewrite") {
    withRule {
      spark.conf.set("spark.graft.binIntervalJoin.enabled", "false")
      try {
        val opt = naive(fixture).queryExecution.optimizedPlan
        assert(opt.collect {
          case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
        }.isEmpty)
      } finally spark.conf.unset("spark.graft.binIntervalJoin.enabled")
    }
  }

  test("GraftExtensions.register installs the rule once, idempotently") {
    val prev = spark.experimental.extraOptimizations
    try {
      graft.GraftExtensions.register(spark)
      graft.GraftExtensions.register(spark)
      assert(spark.experimental.extraOptimizations
        .count(_ == BinnedIntervalJoin) == 1)
    } finally spark.experimental.extraOptimizations = prev
  }
}
