package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Connected components — the final stage of a production dedup
  * pipeline: near-dup PAIRS (LSH→verify output) become duplicate
  * CLUSTERS, and each cluster keeps its minimum id. Pairwise
  * keep-lists (drop the larger id of each pair) over-delete on
  * transitive chains a–b, b–c; components give the correct
  * one-survivor-per-cluster answer.
  *
  * Hybrid algorithm:
  *  - Phase 1, min-label propagation: every vertex starts labeled with
  *    itself; each round propagates labels across (symmetrized) edges
  *    and keeps the min. Rounds needed = graph diameter — for near-dup
  *    clusters (dense, tiny diameter) a handful, and each round is one
  *    join + one groupBy, cheaper than a star round. Bounded at
  *    `StarFallbackAfter` rounds.
  *  - Phase 2, alternating large-star / small-star (Kiveris et al.,
  *    "Connected Components in MapReduce and Beyond", SoCC 2014): if
  *    phase 1 does not converge — a high-diameter dup CHAIN, real in
  *    scraped corpora where doc k shares a span with doc k+1 — rewrite
  *    the edge set itself. large-star hangs every larger neighbor off
  *    the neighborhood min; small-star stars every smaller neighbor
  *    onto it. Converges in O(log n) alternations regardless of
  *    diameter, so a chain that would need 10,000 propagation rounds
  *    finishes in ~15 star rounds. Phase 1's partial labels are fed in
  *    as extra (id, label) edges so its path compression is not wasted.
  *
  * Scale notes (100 TB) — reworked in round 17 (optimization):
  *  - The loop iterates over EDGE-TOUCHED vertices only. A vertex with
  *    no near-dup edge can never receive a message and keeps its own id
  *    forever, so carrying it through every round is pure waste — and
  *    at corpus scale the touched set (docs with at least one verified
  *    near-dup pair) is a small fraction of the vertex table. Untouched
  *    vertices re-enter once, in the final left-join assembly (the same
  *    shape the star phase always used for its output).
  *  - Round 1 is FREE of the labels join: with identity initial labels,
  *    round 1's output is exactly `min(v, min Γ(v))` — one groupBy over
  *    the checkpointed symmetric edge relation. The identity-label
  *    checkpoint and the first join round of the r16 implementation are
  *    both gone.
  *  - Per-round convergence detection ("did any label change") rides
  *    the checkpoint write itself via `Dataset.observe` — an aggregate
  *    computed DURING the write job. The r16 implementation re-read the
  *    just-written checkpoint and filter-counted it: one extra job per
  *    round, and at 100 TB one extra full pass over the label table per
  *    round. The checkpoint also narrows to (id, label) — the carried
  *    `old` column existed only for that count.
  *  - Lineage is truncated every round with a RELIABLE snapshot under
  *    the session's checkpoint dir (alternating parquet slots bound
  *    retained storage at O(1) snapshots). A session without one is
  *    refused: `localCheckpoint` would pin every round's blocks in
  *    executor memory and lose them with the executor. GraftSession
  *    sets one on local masters; a cluster sets `spark.checkpoint.dir`.
  *  - Phase-2 convergence is a (count, xxhash64-sum) checksum over the
  *    rewritten edge set, likewise observed on the checkpoint write —
  *    at the fixpoint small-star emits the exact star graph (every
  *    non-root → its component min) and the set stops changing. A
  *    checksum match is confirmed EXACTLY (one set difference against
  *    the previous round's snapshot) before convergence is declared — a
  *    hash collision can cost one extra confirm, never a wrong answer.
  *  - `maxIters` bounds the TOTAL rounds across both phases; exhausting
  *    it unconverged THROWS: silently returning partial labels would
  *    emit wrong clusters with no signal. With the default budget the
  *    star phase covers components of diameter ~2^40 — no realistic
  *    corpus aborts.
  */
object ConnectedComponents {

  /** Min-label rounds before falling back to star rounds. Dense
    * near-dup clusters (the overwhelmingly common case) converge well
    * inside this; only pathological chains pay for the switch. */
  val StarFallbackAfter = 6

  /** Per-run round counts, for tests and post-hoc scale audits. */
  final case class CcStats(
      propagationRounds: Int, starRounds: Int, usedStarFallback: Boolean)

  /** @param edges    (a_id, b_id) undirected edge list
    * @param vertices one column `id`; isolated vertices label themselves
    * @return (id, label) where label = min id of the component */
  def run(edges: DataFrame, vertices: DataFrame, maxIters: Int = 50):
      DataFrame = runWithStats(edges, vertices, maxIters)._1

  /** As `run`, also returning how many rounds each phase took.
    * `propagationBudget` overrides the min-label phase length. The
    * join-free round 1 (one groupBy over `sym` — strictly cheaper
    * than any star round, and it seeds the star phase's shortcut
    * edges) ALWAYS runs, so a 0 budget means "hand over to the star
    * phase right after round 1", not "no propagation at all":
    * CcStats.propagationRounds reports 1 and the spec's random-graph
    * star-vs-propagation equivalence law compares against a one-round-
    * seeded star candidate (production callers keep the default). */
  def runWithStats(edges: DataFrame, vertices: DataFrame,
      maxIters: Int = 50,
      propagationBudget: Int = StarFallbackAfter): (DataFrame, CcStats) = {
    val spark = edges.sparkSession
    val ckptDir = spark.sparkContext.getCheckpointDir
    require(ckptDir.isDefined, "ConnectedComponents needs a reliable " +
      "checkpoint dir: set spark.checkpoint.dir")
    // Reliable path: snapshot each round to ALTERNATING parquet dirs
    // under the checkpoint dir. graft.Materialize would also be
    // reliable, but its snapshots are deleted only when the context
    // cleaner sees their RDD garbage-collected — a long job could hold
    // one full vertex-label copy PER ROUND until then. Two slots bound
    // retained storage at O(1) snapshots; the final slot stays
    // readable for the returned DataFrame.
    val runDir = s"${ckptDir.get}/cc-${java.util.UUID.randomUUID()}"
    var slot = 0
    // Checkpoint df and return (reread frame projected to `keep`,
    // observed metric values in `aggs` order). The aggregates are
    // computed by the SAME job that materializes the checkpoint
    // (`Dataset.observe`) — no re-read of the snapshot for the
    // convergence check, which at scale costs a full label-table pass
    // per round; `keep` narrows what lands in the snapshot (the
    // convergence inputs need not be stored). Aggs must be aliased;
    // CollectMetrics is a pruning barrier, so columns the aggregates
    // read survive below it even when `keep` drops them.
    def ckptObserved(df: DataFrame, keep: Seq[String],
        names: Seq[String], aggs: Seq[Column],
        path: String): (DataFrame, Seq[Any]) = {
      val obs = Observation()
      df.observe(obs, aggs.head, aggs.tail: _*)
        .select(keep.map(col): _*)
        .write.mode("overwrite").parquet(path)
      val got = obs.get
      (spark.read.parquet(path), names.map(got))
    }
    def slotPath(): String = {
      val p = s"$runDir/s$slot"
      slot = (slot + 1) % 2
      p
    }
    val (sym, symCounts) = ckptObserved(edges
      .select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(edges.select(col("b_id").as("src"), col("a_id").as("dst"))),
      keep = Seq("src", "dst"),
      names = Seq("n"), aggs = Seq(count(lit(1)).as("n")),
      path = s"$runDir/sym")
    val symCount = symCounts.head.asInstanceOf[Long]
    // untouched vertices (no edge) label themselves; they re-enter in
    // the final assembly, never in the loop
    def assemble(touchedLabels: DataFrame): DataFrame =
      vertices.join(
        touchedLabels.select(col("id").as("t_id"), col("label")),
        vertices("id") === col("t_id"), "left")
        .select(vertices("id"),
          coalesce(col("label"), vertices("id")).as("label"))
    if (symCount == 0L)
      return (vertices.select(col("id"), col("id").as("label")),
        CcStats(0, 0, usedStarFallback = false))
    // `old` keeps the label's OWN type: casting to a fixed numeric type
    // would null out non-numeric ids and make the convergence check
    // silently pass after one round
    val changedAgg = coalesce(
      sum(when(!(col("label") <=> col("old")), 1L).otherwise(0L)),
      lit(0L)).as("changed")
    // Round 1 without a join: identity initial labels make round 1's
    // output exactly min(v, min Γ(v)) — one groupBy over sym. Always
    // treated as changed (sym is non-empty, so some endpoint's
    // neighborhood min undercuts its id — and if not, round 2's
    // observed count terminates the loop one round later).
    var (labels, _) = ckptObserved(
      sym.groupBy(col("src").as("id"))
        .agg(min(col("dst")).as("mn"))
        .select(col("id"), least(col("id"), col("mn")).as("label")),
      keep = Seq("id", "label"),
      names = Seq("n"), aggs = Seq(count(lit(1)).as("n")),
      path = slotPath())
    val labelType = labels.schema("label").dataType
    var iter = 1
    var changed = 1L
    val phase1Budget = math.min(propagationBudget, maxIters)
    while (changed > 0 && iter < phase1Budget) {
      val msgs = sym.join(labels, sym("src") === labels("id"))
        .select(col("dst").as("id"), col("label"),
          lit(null).cast(labelType).as("old"))
      // one pass: min over {old label} ∪ {incoming labels}; the previous
      // label rides along as min("old") (unique per id, nulls ignored).
      // The changed-count is observed on the checkpoint write; only
      // (id, label) lands in the snapshot.
      val (next, row) = ckptObserved(labels
        .select(col("id"), col("label"), col("label").as("old"))
        .union(msgs)
        .groupBy("id").agg(min("label").as("label"), min("old").as("old")),
        keep = Seq("id", "label"),
        names = Seq("changed"), aggs = Seq(changedAgg),
        path = slotPath())
      changed = row.head.asInstanceOf[Long]
      labels = next
      iter += 1
    }
    if (changed == 0)
      return (assemble(labels),
        CcStats(iter, 0, usedStarFallback = false))

    // ---- star fallback: the component diameter exceeds the phase-1
    // budget; switch to edge-set rewriting, O(log n) alternations.
    val starBudget = maxIters - iter
    if (starBudget <= 0)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIters rounds " +
          s"($changed labels still changing) — raise maxIters")
    // Seed with the original edges PLUS phase 1's partial labels as
    // (id → label) shortcut edges: label is provably in id's component,
    // so components are unchanged and phase-1 compression carries over.
    // (Touched-only labels drop exactly the identity self-loops the
    // a ≠ b filter removed anyway.)
    def ckptStar(df: DataFrame)
        : (DataFrame, (Long, Option[java.math.BigDecimal])) = {
      val (out, vals) = ckptObserved(df,
        keep = Seq("a", "b"),
        names = Seq("c", "h"),
        aggs = Seq(count(lit(1)).as("c"),
          sum(xxhash64(col("a"), col("b")).cast("decimal(38,0)"))
            .as("h")),
        path = slotPath())
      (out, (vals.head.asInstanceOf[Long],
        Option(vals(1)).map(_.asInstanceOf[java.math.BigDecimal])))
    }
    var (e, _) = ckptStar(edges
      .select(col("a_id").as("a"), col("b_id").as("b"))
      .union(labels.select(col("id").as("a"), col("label").as("b")))
      .filter(col("a") =!= col("b"))
      .distinct())
    var starRounds = 0
    var prevSum: (Long, Option[java.math.BigDecimal]) = (-1L, None)
    var converged = false
    while (!converged && starRounds < starBudget) {
      // large-star: for each u over the symmetrized neighborhood, hang
      // every STRICTLY LARGER neighbor off m = min(Γ(u) ∪ {u}).
      // Every union branch re-aliases its outputs: branches of a
      // self-union sharing attribute exprIds trips Union's
      // constraint-rewrite (`key not found` in the analyzer).
      val symE = e.select(col("a").as("a"), col("b").as("b"))
        .union(e.select(col("b").as("a"), col("a").as("b")))
      val lsMin = symE.groupBy("a").agg(min("b").as("mn"))
        .select(col("a"), least(col("a"), col("mn")).as("m"))
      val ls = symE.join(lsMin, "a")
        .filter(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
      // small-star: orient every edge large→small, then star each
      // node's smaller neighbors (and itself) onto the neighborhood min
      val dir = ls.select(
          greatest(col("a"), col("b")).as("a"),
          least(col("a"), col("b")).as("b"))
      val ssMin = dir.groupBy("a").agg(min("b").as("m"))
      val ss = dir.join(ssMin, "a")
        .select(col("b").as("v"), col("m").as("m"))
        .union(ssMin.select(col("a").as("v"), col("m").as("m")))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("a"), col("m").as("b"))
        .distinct()
      val prev = e
      // fixpoint check: the rewritten edge set stopped changing.
      // (count, sum of xxhash64 row hashes) — order-insensitive,
      // observed on the checkpoint write itself (the r16 form re-read
      // the snapshot for a separate aggregate job per round). A
      // signature match is only a CANDIDATE fixpoint: sum-of-hashes can
      // collide between different edge sets, and declaring convergence
      // on a collision would silently emit wrong cluster labels — so
      // the first match is confirmed EXACTLY, once, with a set
      // difference (both sides are distinct sets of equal count, so an
      // empty `except` proves equality). `prev` reads the other
      // alternating slot, still intact until the next ckpt overwrites
      // it. decimal(38,0) sum: full-range 64-bit terms overflow a Long
      // sum under ANSI mode.
      val (e2, sig) = ckptStar(ss)
      e = e2
      starRounds += 1
      converged = sig == prevSum && e.except(prev).isEmpty
      prevSum = sig
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIters rounds " +
          s"(star phase still rewriting after $starRounds) — raise " +
          "maxIters")
    // At the fixpoint e is the star graph: every non-root vertex has
    // exactly one edge to its component min. groupBy guards against a
    // (theoretically impossible) duplicate without changing the answer.
    val roots = e.groupBy("a").agg(min("b").as("lbl"))
    val out = vertices.join(roots, vertices("id") === roots("a"), "left")
      .select(col("id"), coalesce(col("lbl"), col("id")).as("label"))
    (out, CcStats(iter, starRounds, usedStarFallback = true))
  }
}
