package graft.queries

import graft.{QueryDef, QueryRegistry, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-curation operators — the passes a training-data pipeline runs
  * between raw ingest and packing, beyond per-pair dedup (DedupQueries):
  *
  *  - eval-set decontamination (qd11): flag training documents sharing
  *    word n-grams with a held-out eval set — the GPT-3/PaLM-style
  *    train/test overlap scrub. The eval side of the join is tiny by
  *    construction (benchmarks are MBs, corpora are TBs), so at scale it
  *    broadcasts; the train side shuffles only 16-hex shingle hashes.
  *  - duplicated-span mining (qd12): per-document fraction of word
  *    n-grams that occur in ≥2 distinct documents — the corpus-level
  *    "memorized span" signal of Lee et al. 2022 (exact substring dedup),
  *    approximated at n-gram granularity so it runs as two hash
  *    aggregations instead of a suffix array.
  *  - duplicated-span SCRUB (qd21): the removal pass over qd12's
  *    signal — every token covered by a cross-document duplicated gram
  *    is cut and the surviving text emitted, Lee et al.'s ExactSubstr
  *    posture at n-gram grain.
  *  - semantic dedup (qs05): SemDeDup (Abbas et al. 2023) — within an
  *    embedding cluster, prune every vector whose cosine to a
  *    lower-id cluster member exceeds a threshold. Clusters here come
  *    from the fixture's `label` column (at scale: the k-means/IVF
  *    assignment of SimilarityQueries.qs02); the operator is the
  *    in-cluster prune. Embeddings shuffle once, grouped by cluster —
  *    in-cluster pair work is bounded by cluster size, never O(n²).
  *
  * Cross-engine determinism: shingles hash through md5 (identical in
  * DuckDB), cosines are sequential double folds (CosineSimilarity ==
  * DuckDB list_sum fold, bit-identical), rounded before thresholding.
  */
object CurationQueries extends QueryRegistry {

  /** Word n-gram size for decontamination/span mining. Real pipelines
    * use 8–13-word grams; the fixture's documents are 10–99 words with
    * near-dup families that share 5-word runs, so 5 keeps both queries'
    * outputs non-degenerate at test scale. */
  private[queries] val GramK = 5

  /** Eval-set membership: doc_id % 7 == 0 (a held-out slice with
    * measured overlap against the rest of the fixture). */
  private val EvalMod = 7

  private def words(c: Column): Column = split(lower(c), " ")

  private val shingleHashesSqlCte = {
    val parts = (0 until GramK)
      .map(o => if (o == 0) "ws[i]" else s"ws[i+$o]").mkString(" || ' ' || ")
    s"""SELECT doc_id, list_distinct(list_transform(
       |    CASE WHEN len(ws) >= $GramK
       |      THEN list_transform(generate_series(1, len(ws) - ${GramK - 1}),
       |             i -> $parts)
       |      ELSE [array_to_string(ws, ' ')] END,
       |    x -> substr(md5(x), 1, 16))) AS shs
       |FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws
       |      FROM documents) w""".stripMargin
  }

  /** Exploded (doc_id, sh) of the fixture's documents via the
    * single-pass JVM kernel. */
  private def exploded(s: SparkSession, dir: String): DataFrame =
    graft.functions.ShingleHash.exploded(
      Tables(s, dir).documents.select(col("doc_id"), col("text")), GramK)

  /** Core of qd11 over any exploded (doc_id, sh) frame. */
  private def decontamFrom(sh: DataFrame): DataFrame = {
    val evalGrams = sh.filter(col("doc_id") % EvalMod === 0)
      .select(col("sh")).distinct()
    val train = sh.filter(col("doc_id") % EvalMod =!= 0)
    train.join(broadcast(evalGrams.withColumn("hit", lit(1))),
        Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), sum(coalesce(col("hit"), lit(0)))
        .cast("int").as("n_hits"))
      .select(col("doc_id"), col("n_grams"), col("n_hits"),
        when(col("n_hits") > 0, 1).otherwise(0).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** qd11: per-train-document contamination counts against the eval
    * slice. Output covers every train doc (hits are sparse) so the gate
    * hashes the negatives too. The eval and train sides each run the
    * explode: at sf0.1 two codegen'd explodes measured faster than one
    * explode plus a checkpoint write (0.42 vs 0.55 s warm, 4 CPUs). */
  private def decontam(s: SparkSession, dir: String): DataFrame =
    decontamFrom(exploded(s, dir))

  private val decontamSql =
    s"""WITH s AS ($shingleHashesSqlCte),
       |e AS (SELECT doc_id, unnest(shs) AS sh FROM s),
       |ev AS (SELECT DISTINCT sh FROM e WHERE doc_id % $EvalMod = 0),
       |tr AS (SELECT doc_id, sh FROM e WHERE doc_id % $EvalMod <> 0)
       |SELECT tr.doc_id, count(*) AS n_grams,
       |  sum(CASE WHEN ev.sh IS NOT NULL THEN 1 ELSE 0 END)::INT AS n_hits,
       |  CASE WHEN sum(CASE WHEN ev.sh IS NOT NULL THEN 1 ELSE 0 END) > 0
       |    THEN 1 ELSE 0 END AS contaminated
       |FROM tr LEFT JOIN ev ON tr.sh = ev.sh
       |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin

  /** Per-gram document frequency (sh, df) over an exploded shingle
    * frame — the duplicated-gram set of the span scrubs (qd21, qd25 and
    * the curate funnel's `spanScrub`). */
  private[graft] def gramDfFrom(sh: DataFrame): DataFrame =
    sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))

  /** Core of qd12 over any exploded (doc_id, sh) frame. Gram document
    * frequency is a window over `sh` (grams are distinct per document,
    * so the row count is the df): one scan of the explode, where an
    * aggregate joined back would read it twice. */
  private[graft] def dupSpansFrom(sh: DataFrame): DataFrame =
    sh.withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("sh"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("df") >= 2, 1).otherwise(0)).cast("int")
          .as("n_dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
        round(col("n_dup_spans").cast("double") / col("n_spans"), 6)
          .as("dup_frac"))
      .orderBy(col("doc_id"))

  /** qd12: per-document duplicated-span fraction — shingle document
    * frequency (a window over the 16-hex gram hashes), then one
    * aggregate on doc_id. That is one read of the explode, so it is
    * not materialized. */
  private def dupSpans(s: SparkSession, dir: String): DataFrame =
    dupSpansFrom(exploded(s, dir))

  private val dupSpansSql =
    s"""WITH s AS ($shingleHashesSqlCte),
       |e AS (SELECT doc_id, unnest(shs) AS sh FROM s),
       |df AS (SELECT sh, count(*) AS df FROM e GROUP BY sh)
       |SELECT doc_id, count(*) AS n_spans,
       |  sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)::INT AS n_dup_spans,
       |  round(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)::DOUBLE
       |    / count(*), 6) AS dup_frac
       |FROM e JOIN df USING (sh)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Core of qd21 over (doc_id, text) plus its positional gram frame —
    * the REMOVAL pass qd12 only measures (Lee et al. 2022 ExactSubstr,
    * n-gram grain): cut every token covered by a gram that occurs in
    * ≥ 2 distinct documents, emit the surviving text.
    *
    * Plan shape: (1) duplicated-gram set from the distinct exploded
    * frame — hashes only; (2) positional grams joined against it —
    * (doc_id, pos, 16-hex) rows, text absent; (3) per-doc dup-start
    * arrays (ints, bounded by doc length) joined back to `documents`
    * on doc_id — the ONE place corpus text enters an exchange, and any
    * operator that must rewrite text has it; (4) the cut itself is a
    * row-local array filter, no further movement. */
  private[graft] def spanScrubFrom(docs: DataFrame, pos: DataFrame,
      dupSh: DataFrame, preserveCase: Boolean = false,
      gramK: Int = GramK): DataFrame = {
    // gram MATCHING is always case-folded (the shingle convention);
    // `preserveCase` only controls whether the emitted text keeps the
    // original casing (the library/funnel posture — token positions
    // are case-independent) or the folded form (the oracle gate's)
    val tokens =
      if (preserveCase) split(col("text"), " ")
      else split(lower(col("text")), " ")
    val starts = pos.join(dupSh, "sh")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("pos"))).as("starts"))
    // the cut width MUST match the gram width the positional frame
    // was built with — a fixed width would under-cut wider grams
    // and over-cut narrower ones. The cut itself is the row-local
    // [[graft.functions.ScrubRuns]] kernel with minRun = 1 (cut every
    // covered token — coverage equals the union of merged runs).
    graft.functions.ScrubRuns(
      docs.join(starts, Seq("doc_id"), "left")
        .select(col("doc_id"), tokens.as("ws"),
          coalesce(col("starts"), array().cast("array<int>")).as("starts"))
        .select(col("doc_id"), col("ws"), col("starts"),
          least(lit(gramK), size(col("ws"))).as("span")),
      minRun = 1)
      .orderBy(col("doc_id"))
  }

  /** qd21: duplicated-span SCRUB — the removal operator for the signal
    * qd12 measures. Production positional grams come from the
    * [[graft.functions.ShingleHash.positional]] kernel (one narrow
    * pass, like [[exploded]]); the dup set is the gram df of the
    * distinct explode. */
  private def spanScrub(s: SparkSession, dir: String): DataFrame = {
    val dup = gramDfFrom(exploded(s, dir))
      .filter(col("df") >= 2).select(col("sh"))
    spanScrubFrom(
      Tables(s, dir).documents.select(col("doc_id"), col("text")),
      graft.functions.ShingleHash.positional(
        Tables(s, dir).documents.select(col("doc_id"), col("text")), GramK),
      dup)
  }

  private val spanScrubSql =
    s"""WITH s AS ($shingleHashesSqlCte),
       |e AS (SELECT doc_id, unnest(shs) AS sh FROM s),
       |dup AS (SELECT sh FROM e GROUP BY sh HAVING count(*) >= 2),
       |w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
       |      FROM documents),
       |pw AS (SELECT doc_id, ws, unnest(generate_series(1,
       |        CASE WHEN len(ws) >= $GramK
       |          THEN len(ws) - ${GramK - 1} ELSE 1 END)) AS pos
       |      FROM w),
       |p AS (SELECT doc_id, pos, substr(md5(
       |        CASE WHEN len(ws) >= $GramK
       |          THEN ${(0 until GramK).map(o =>
      if (o == 0) "ws[pos]" else s"ws[pos+$o]").mkString(" || ' ' || ")}
       |          ELSE array_to_string(ws, ' ') END), 1, 16) AS sh
       |      FROM pw),
       |ds AS (SELECT p.doc_id, p.pos FROM p JOIN dup USING (sh)),
       |cov AS (SELECT DISTINCT doc_id, pos + o AS j FROM (
       |        SELECT ds.doc_id, ds.pos, unnest(generate_series(0,
       |          least($GramK, len(w.ws)) - 1)) AS o
       |        FROM ds JOIN w ON ds.doc_id = w.doc_id) x),
       |cl AS (SELECT doc_id, list(j) AS cov FROM cov GROUP BY doc_id),
       |kp AS (SELECT w.doc_id, ws,
       |        list_filter(generate_series(1, len(ws)),
       |          j -> NOT list_contains(coalesce(cl.cov, []), j)) AS keep
       |      FROM w LEFT JOIN cl ON w.doc_id = cl.doc_id)
       |SELECT doc_id, len(ws)::INT AS n_tokens,
       |  (len(ws) - len(keep))::INT AS n_removed,
       |  coalesce(array_to_string(list_transform(keep, j -> ws[j]), ' '),
       |    '') AS scrubbed
       |FROM kp ORDER BY doc_id""".stripMargin

  /** qd25 gate constants. MinRunGate: minimal maximal-run length (in
    * tokens) a duplicated region must reach before it is scrubbed —
    * Lee et al. 2022 scrub only duplicated substrings ≥ 50 tokens (the
    * funnel's CLI default); the fixture's planted runs span 5–99
    * tokens, so 20 exercises both branches at every sf. DfCeilGate:
    * grams in more than this many documents are corpus-common idiom
    * ("on the other hand") and can never evidence duplication — they
    * are pruned from the dup set BEFORE position matching, which is
    * also the scale guard: a hot gram's positional fan-out is bounded
    * by the ceiling, not by its document frequency. */
  private val MinRunGate = 20
  private val DfCeilGate = 3

  /** qd21's scrub with ExactSubstr fidelity (round-11 verdict #2):
    * instead of cutting EVERY token covered by a cross-document
    * duplicated gram — which at corpus scale shreds documents that
    * merely share frequent idioms — merge covered positions into
    * MAXIMAL runs and scrub only runs ≥ `minRun` tokens (Lee et al.
    * 2022 run their suffix-array scrub at 50 tokens).
    *
    * Plan shape is qd21's (dup-gram starts per doc, one doc_id join,
    * text enters exactly one exchange); the run merge is one linear
    * row-local pass: expand starts to sorted distinct coverage, mark
    * run boundaries by comparing each covered position against its
    * neighbors (indexed `transform`, no per-token shuffle), zip the
    * boundary lists into (s, e) runs, keep only runs ≥ minRun. The
    * final keep-filter tests each token against the removed runs —
    * O(n·runs) with runs ≤ n/minRun, so ≤ n²/minRun worst-case and
    * effectively linear on real text (a handful of long runs). */
  private[graft] def spanScrubRunsFrom(docs: DataFrame, pos: DataFrame,
      dupSh: DataFrame, minRun: Int, preserveCase: Boolean = false,
      gramK: Int = GramK): DataFrame = {
    val tokens =
      if (preserveCase) split(col("text"), " ")
      else split(lower(col("text")), " ")
    val starts = pos.join(dupSh, "sh")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("pos"))).as("starts"))
    // run merge + threshold + cut = the row-local
    // [[graft.functions.ScrubRuns]] kernel (each dup-gram start covers
    // [s, s + span - 1], span = gram width clipped to short docs;
    // touching/overlapping windows coalesce into maximal runs; runs
    // ≥ minRun scrub). The former declarative spelling — coverage
    // expansion, boundary-marking indexed transforms, zip_with, and an
    // O(n·runs) exists() keep-filter — ran on Catalyst's interpreted
    // HOF path; the kernel is one codegen-friendly typed pass.
    graft.functions.ScrubRuns(
      docs.join(starts, Seq("doc_id"), "left")
        .select(col("doc_id"), tokens.as("ws"),
          coalesce(col("starts"), array().cast("array<int>")).as("starts"))
        .select(col("doc_id"), col("ws"), col("starts"),
          least(lit(gramK), size(col("ws"))).as("span")),
      minRun)
      .orderBy(col("doc_id"))
  }

  /** qd25: span scrub with maximal-run threshold + gram df ceiling —
    * the production form of qd21 (which this generalizes: minRun = 1
    * and no ceiling reproduce it exactly, spec-pinned). */
  private def spanScrubRuns(s: SparkSession, dir: String): DataFrame = {
    val dup = gramDfFrom(exploded(s, dir))
      .filter(col("df") >= 2 && col("df") <= DfCeilGate)
      .select(col("sh"))
    spanScrubRunsFrom(
      Tables(s, dir).documents.select(col("doc_id"), col("text")),
      graft.functions.ShingleHash.positional(
        Tables(s, dir).documents.select(col("doc_id"), col("text")), GramK),
      dup, MinRunGate)
  }

  private val spanScrubRunsSql =
    s"""WITH s AS ($shingleHashesSqlCte),
       |e AS (SELECT doc_id, unnest(shs) AS sh FROM s),
       |dup AS (SELECT sh FROM e GROUP BY sh
       |        HAVING count(*) >= 2 AND count(*) <= $DfCeilGate),
       |w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
       |      FROM documents),
       |pw AS (SELECT doc_id, ws, unnest(generate_series(1,
       |        CASE WHEN len(ws) >= $GramK
       |          THEN len(ws) - ${GramK - 1} ELSE 1 END)) AS pos
       |      FROM w),
       |p AS (SELECT doc_id, pos, substr(md5(
       |        CASE WHEN len(ws) >= $GramK
       |          THEN ${(0 until GramK).map(o =>
      if (o == 0) "ws[pos]" else s"ws[pos+$o]").mkString(" || ' ' || ")}
       |          ELSE array_to_string(ws, ' ') END), 1, 16) AS sh
       |      FROM pw),
       |ds AS (SELECT p.doc_id, p.pos FROM p JOIN dup USING (sh)),
       |cov AS (SELECT DISTINCT doc_id, pos + o AS j FROM (
       |        SELECT ds.doc_id, ds.pos, unnest(generate_series(0,
       |          least($GramK, len(w.ws)) - 1)) AS o
       |        FROM ds JOIN w ON ds.doc_id = w.doc_id) x),
       |runs AS (SELECT doc_id, j, j - row_number()
       |          OVER (PARTITION BY doc_id ORDER BY j) AS grp FROM cov),
       |longr AS (SELECT doc_id, grp FROM runs GROUP BY doc_id, grp
       |          HAVING count(*) >= $MinRunGate),
       |rem AS (SELECT r.doc_id, r.j FROM runs r
       |        JOIN longr g ON r.doc_id = g.doc_id AND r.grp = g.grp),
       |cl AS (SELECT doc_id, list(j) AS cov FROM rem GROUP BY doc_id),
       |kp AS (SELECT w.doc_id, ws,
       |        list_filter(generate_series(1, len(ws)),
       |          j -> NOT list_contains(coalesce(cl.cov, []), j)) AS keep
       |      FROM w LEFT JOIN cl ON w.doc_id = cl.doc_id)
       |SELECT doc_id, len(ws)::INT AS n_tokens,
       |  (len(ws) - len(keep))::INT AS n_removed,
       |  coalesce(array_to_string(list_transform(keep, j -> ws[j]), ' '),
       |    '') AS scrubbed
       |FROM kp ORDER BY doc_id""".stripMargin

  /** qd29 gate: minimal exact-match length in tokens. Lee et al. 2022
    * run ExactSubstr at 50 tokens; the fixture's planted runs span
    * 5–99 tokens, so 20 (the qd25 convention) keeps both the
    * kept-and-dropped branches exercised at every sf. */
  private val MinMatchLen = 20

  /** Core of qd29: EXACT variable-length substring matches (suffix-
    * array-grade semantics, Lee et al. 2022 ExactSubstr) from a
    * positional gram frame, distributed as k-mer anchors chained along
    * diagonals — no suffix array needed:
    *
    *  1. anchor: two positions (a, i), (b, j) sharing a k-gram hash
    *     assert text_a[i, i+k) == text_b[j, j+k);
    *  2. every anchor of one maximal match lies on ONE diagonal
    *     (i − j constant) at CONSECUTIVE i, so a gaps-and-islands pass
    *     per (a_id, b_id, diag) — one shuffle, islands via
    *     row_number — reassembles each maximal match exactly:
    *     [min(i), max(i) + k), length max(i) − min(i) + k;
    *  3. conversely consecutive anchors on a diagonal overlap by
    *     k − 1 tokens, so the island IS a contiguous equality — no
    *     chimeras, unlike coverage-merged fixed-k runs (qd25), which
    *     can stitch windows duplicated against DIFFERENT partners
    *     into a "run" that repeats nowhere as a whole.
    *
    * Matches of length in [k, minLen) are dropped by the gate;
    * every true match ≥ minLen > k is recovered exactly (its k-windows
    * are all anchors). Within-doc repeats (a_id == b_id, a_pos <
    * b_pos) are found too — Lee et al. dedup within documents as
    * well. Keys canonicalize a-side = smaller (doc, pos), constant
    * along a diagonal, so each maximal match emits exactly once.
    *
    * Scale: anchors fan out d² per gram with d occurrences — the
    * production posture for idiom-heavy corpora is the qd27 hot-bucket
    * cap applied to anchor grams (a gram above the cap cannot
    * evidence a RARE long match; capped rows are counted, not
    * silently dropped). The fixture corpus is cap-free so the oracle
    * row stays exact. Like the rest of the qd family this is
    * beyond-the-reference LLM-pipeline tooling (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"). */
  private[graft] def substringMatchesFrom(pos: DataFrame, gramK: Int,
      minLen: Int): DataFrame = {
    val a = pos.select(col("doc_id").as("a_id"),
      col("pos").as("a_pos"), col("sh"))
    val b = pos.select(col("doc_id").as("b_id"),
      col("pos").as("b_pos"), col("sh"))
    val anchors = a.join(b, "sh")
      .where(col("a_id") < col("b_id") ||
        (col("a_id") === col("b_id") && col("a_pos") < col("b_pos")))
      .select(col("a_id"), col("b_id"),
        (col("a_pos") - col("b_pos")).as("diag"), col("a_pos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("a_id", "b_id", "diag").orderBy("a_pos")
    anchors
      .withColumn("grp", col("a_pos") - row_number().over(w))
      .groupBy(col("a_id"), col("b_id"), col("diag"), col("grp"))
      .agg(min(col("a_pos")).as("a_start"),
        (max(col("a_pos")) - min(col("a_pos")) + lit(gramK))
          .as("match_len"))
      .where(col("match_len") >= minLen)
      .select(col("a_id"), col("a_start"), col("b_id"),
        (col("a_start") - col("diag")).as("b_start"), col("match_len"))
      .orderBy(col("a_id"), col("a_start"), col("b_id"), col("b_start"))
  }

  /** qd29: exact substring dedup mining — every maximal exact match of
    * ≥ MinMatchLen tokens between two corpus locations, one row per
    * match: `(a_id, a_start, b_id, b_start, match_len)` (1-based token
    * starts; a-side is the smaller key). The variable-length upgrade
    * of qd12/qd25's fixed-k span family: match_len is the TRUE length
    * of each repeated substring, not a coverage union. */
  private def substringMatches(s: SparkSession, dir: String): DataFrame =
    substringMatchesFrom(
      graft.functions.ShingleHash.positional(
        Tables(s, dir).documents.select(col("doc_id"), col("text")),
        GramK),
      GramK, MinMatchLen)

  private val substringMatchesSql = {
    val parts = (0 until GramK)
      .map(o => if (o == 0) "ws[pos]" else s"ws[pos+$o]")
      .mkString(" || ' ' || ")
    s"""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
       |      FROM documents),
       |pw AS (SELECT doc_id, ws, unnest(generate_series(1,
       |        CASE WHEN len(ws) >= $GramK
       |          THEN len(ws) - ${GramK - 1} ELSE 1 END)) AS pos
       |      FROM w),
       |p AS (SELECT doc_id, pos, substr(md5(
       |        CASE WHEN len(ws) >= $GramK
       |          THEN $parts
       |          ELSE array_to_string(ws, ' ') END), 1, 16) AS sh
       |      FROM pw),
       |an AS (SELECT p1.doc_id AS a_id, p2.doc_id AS b_id,
       |        p1.pos - p2.pos AS diag, p1.pos AS a_pos
       |      FROM p p1 JOIN p p2 ON p1.sh = p2.sh
       |      WHERE p1.doc_id < p2.doc_id
       |         OR (p1.doc_id = p2.doc_id AND p1.pos < p2.pos)),
       |g AS (SELECT a_id, b_id, diag, a_pos, a_pos - row_number()
       |        OVER (PARTITION BY a_id, b_id, diag ORDER BY a_pos)
       |        AS grp FROM an),
       |m AS (SELECT a_id, b_id, diag, min(a_pos) AS a_start,
       |        max(a_pos) - min(a_pos) + $GramK AS match_len
       |      FROM g GROUP BY a_id, b_id, diag, grp)
       |SELECT a_id, a_start::INT AS a_start, b_id,
       |  (a_start - diag)::INT AS b_start, match_len::INT AS match_len
       |FROM m WHERE match_len >= $MinMatchLen
       |ORDER BY a_id, a_start, b_id, b_start""".stripMargin
  }

  /** Core of qd30: the LINEAR production termination of exact
    * substring mining — one row per repeat-segment OCCURRENCE instead
    * of qd29's one row per location PAIR. The round-17 sf10 ring
    * caught qd29's pair output growing d² per duplicated gram with d
    * occurrences (125 GB spill, 17×/decade: a span planted in d docs
    * is d(d−1)/2 pair rows), exactly the mm27/mm29 shape; this is the
    * mm30-style collapse for the substring tier.
    *
    * Semantics (suffix-tree branching decomposition): every position
    * whose k-gram is duplicated carries the gram's TRANSLATION-
    * NORMALIZED occurrence set — the set {(doc', pos' − pos₀)} over
    * all occurrences, anchored at the lexicographically-first one, so
    * it is invariant as a repeat extends position-by-position. A
    * maximal run of consecutive positions holding one normalized set
    * (a gaps-and-islands pass per document) is a repeat SEGMENT:
    *  - consecutive same-class positions overlap by k−1 tokens, so a
    *    segment is a contiguous equality recurring at every member of
    *    its class (the qd29 no-chimera argument, class-wise);
    *  - where a subset of occurrences extends further (docs A,B,C
    *    share S but only A,B share S+T), the set CHANGES and the
    *    segment splits — the output is the branching decomposition,
    *    with pairwise-maximal matches recoverable as unions of
    *    adjacent segments with nested classes (qd29 is that view);
    *  - OVERLAPPING occurrences (tandem/periodic runs) merge into one
    *    segment spanning the whole periodic stretch — "a b a b a b"
    *    is one row, not two overlapping pair rows.
    * `n_occ` is the class multiplicity d: the planted span in d docs
    * is d rows of (location, d), not d²/2 pairs.
    *
    * Cost is LINEAR end-to-end: one aggregate per gram (count + min
    * anchor), one windowed xor per gram partition for the class hash
    * (two seeds, the MediaDedup signature posture — SCALE.md "16-hex
    * collision posture" covers the 128-bit accidental-merge odds),
    * one islands window per document. No self-join exists in the
    * plan, so there is no d² anywhere — hot spans (the exact thing a
    * 100 TB dedup hunts) get CHEAPER per occurrence as d grows.
    *
    * The min-length gate applies PER SEGMENT: a long pairwise match
    * that the branching decomposition splits into short segments
    * (heavy nesting) can fall under a gate its qd29 match clears —
    * the documented trade for linearity; at the Lee et al. 50-token
    * grain with k = 5 the nesting would need 10+ branch points
    * inside one match. */
  private[graft] def substrRepeatSegmentsFrom(pos: DataFrame,
      gramK: Int, minLen: Int): DataFrame = {
    // per duplicated gram: occurrence count d and the anchor (the
    // lexicographically-first occurrence) that normalizes translation
    val dup = pos.groupBy(col("sh"))
      .agg(count(lit(1)).as("n_occ"),
        min(struct(col("doc_id"), col("pos"))).as("first"))
      .where(col("n_occ") >= 2)
    // class hash: commutative two-seed xor over member keys
    // (doc_id, pos − anchor.pos). Spelled as a partial-aggregating
    // groupBy + join rather than a window over sh: a window partition
    // cannot be skew-split, and a corpus-hot gram at 100 TB (a
    // stopword 5-gram with 1e8+ occurrences) would pin one task;
    // the aggregate combines map-side and both sh joins are
    // AQE-skew-splittable, so the hot key spreads
    val members = pos.join(dup, "sh")
      .select(col("sh"), col("doc_id"), col("pos"), col("n_occ"),
        (col("pos") - col("first.pos")).as("rel"))
    val cls = members.groupBy(col("sh"))
      .agg(expr("bit_xor(xxhash64(doc_id, rel))").as("nh1"),
        expr("bit_xor(xxhash64(doc_id, rel, 2))").as("nh2"))
    val classed = members.join(cls, "sh")
      .select(col("doc_id"), col("pos"), col("n_occ"),
        col("nh1"), col("nh2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id", "nh1", "nh2", "n_occ").orderBy("pos")
    classed
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("nh1"), col("nh2"), col("n_occ"),
        col("grp"))
      .agg(min(col("pos")).as("start"),
        (max(col("pos")) - min(col("pos")) + lit(gramK))
          .as("match_len"))
      .where(col("match_len") >= minLen)
      // islands partition the duplicated positions, so (doc_id, start)
      // is unique — a total deterministic order
      .select(col("doc_id"), col("start"), col("match_len"),
        col("n_occ"))
      .orderBy(col("doc_id"), col("start"))
  }

  /** qd30: exact substring repeat segments — the production posture of
    * qd29 at 100 TB. One row per occurrence of each maximal repeat
    * segment: `(doc_id, start, match_len, n_occ)` (1-based token
    * start, true segment length, class multiplicity). */
  private def substrRepeatSegments(s: SparkSession,
      dir: String): DataFrame =
    substrRepeatSegmentsFrom(
      graft.functions.ShingleHash.positional(
        Tables(s, dir).documents.select(col("doc_id"), col("text")),
        GramK),
      GramK, MinMatchLen)

  /** DuckDB oracle: same construction with the normalized occurrence
    * set carried EXACTLY (md5 of the ordered member list) rather than
    * xor-hashed — the oracle has no quadratic to avoid at fixture
    * scale, so it gets to be literal. */
  private val substrRepeatSegmentsSql = {
    val parts = (0 until GramK)
      .map(o => if (o == 0) "ws[pos]" else s"ws[pos+$o]")
      .mkString(" || ' ' || ")
    s"""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
       |      FROM documents),
       |pw AS (SELECT doc_id, ws, unnest(generate_series(1,
       |        CASE WHEN len(ws) >= $GramK
       |          THEN len(ws) - ${GramK - 1} ELSE 1 END)) AS pos
       |      FROM w),
       |p AS (SELECT doc_id, pos, substr(md5(
       |        CASE WHEN len(ws) >= $GramK
       |          THEN $parts
       |          ELSE array_to_string(ws, ' ') END), 1, 16) AS sh
       |      FROM pw),
       |f AS (SELECT sh, count(*) AS n_occ,
       |        arg_min(pos, doc_id * 1000000 + pos) AS fpos
       |      FROM p GROUP BY sh HAVING count(*) >= 2),
       |c AS (SELECT p.sh, any_value(f.n_occ) AS n_occ,
       |        md5(string_agg(p.doc_id || ':' || (p.pos - f.fpos), ','
       |          ORDER BY p.doc_id, p.pos)) AS ck
       |      FROM p JOIN f USING (sh) GROUP BY p.sh),
       |i AS (SELECT p.doc_id, p.pos, c.ck, c.n_occ,
       |        p.pos - row_number()
       |          OVER (PARTITION BY p.doc_id, c.ck ORDER BY p.pos)
       |          AS grp
       |      FROM p JOIN c USING (sh))
       |SELECT doc_id, min(pos)::INT AS start,
       |  (max(pos) - min(pos) + $GramK)::INT AS match_len,
       |  any_value(n_occ)::BIGINT AS n_occ
       |FROM i GROUP BY doc_id, ck, grp
       |HAVING max(pos) - min(pos) + $GramK >= $MinMatchLen
       |ORDER BY doc_id, start""".stripMargin
  }

  /** Cosine threshold for the semantic prune: rounded cosines ≥ Tau
    * mark the higher vec_id as redundant. Fixture in-cluster cosines
    * top out at ~0.47 with a ~1% tail above 0.3, so Tau = 0.3 prunes a
    * real (non-empty, non-total) subset. */
  private val Tau = 0.3

  /** Core of qs05 over any (vec_id, label, embedding) frame. */
  private def semDedupFrom(e: DataFrame, tau: Double): DataFrame = {
    val pruned = e.as("a")
      .join(e.as("b"), col("a.label") === col("b.label") &&
        col("a.vec_id") < col("b.vec_id"))
      .filter(round(graft.functions.CosineSimilarity.cosineSim(
        col("a.embedding"), col("b.embedding")), 6) >= tau)
      .select(col("b.vec_id").as("vec_id")).distinct()
    e.join(pruned.withColumn("pruned", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"),
        when(col("pruned").isNull, 1).otherwise(0).as("is_kept"))
      .orderBy(col("vec_id"))
  }

  /** qs05: SemDeDup in-cluster prune — keep a vector unless some
    * lower-id vector in the same cluster is within the cosine ball. */
  private def semDedup(s: SparkSession, dir: String): DataFrame =
    semDedupFrom(Tables(s, dir).embeddings
      .select(col("vec_id"), col("label"), col("embedding")), Tau)

  private val semDedupSql =
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
       |pruned AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE round(
       |    list_sum(list_transform(generate_series(1, len(a.emb)),
       |      i -> a.emb[i] * b.emb[i]))
       |    / (sqrt(list_sum(list_transform(generate_series(1, len(a.emb)),
       |        i -> a.emb[i] * a.emb[i])))
       |     * sqrt(list_sum(list_transform(generate_series(1, len(b.emb)),
       |        i -> b.emb[i] * b.emb[i])))), 6) >= $Tau)
       |SELECT e.vec_id, e.label,
       |  CASE WHEN p.vec_id IS NULL THEN 1 ELSE 0 END AS is_kept
       |FROM e LEFT JOIN pruned p ON e.vec_id = p.vec_id
       |ORDER BY e.vec_id""".stripMargin

  /** Per-language sampling rates (percent kept) for the mixture query:
    * the "training mix" a data pipeline dials in (oversample English,
    * downsample the rest). Inlined identically into the oracle. */
  private val MixRates: Seq[(String, Int)] =
    Seq("en" -> 90, "de" -> 50, "fr" -> 50, "es" -> 50, "zh" -> 25)

  /** The stateless mixture projection, shared by the batch gate (qc01),
    * the streaming gate (st05), the curate CLI stage and any probe:
    * works identically over a batch or streaming frame because it is
    * row-narrow. `defaultRate` applies to languages not in `rates`
    * (the gate pins 0; the CLI defaults to keep-everything-unlisted). */
  /** Stable [0,100) bucket from md5(doc_id) — the deterministic
    * per-document coin every sampling/split decision uses (never a
    * seeded RNG: must be reproducible across runs, engines and
    * repartitioning). Shared by qc01/st05/qd16. */
  private[graft] def bucketCol: Column =
    (conv(substring(md5(to_binary(
      col("doc_id").cast("string"), lit("utf-8"))), 1, 6), 16, 10)
      .cast("long") % 100).cast("int")

  /** DuckDB twin: hex → int without conv() — positional nibble
    * arithmetic over the first 6 md5 hex chars (value-identical to
    * Spark's conv(_, 16, 10)). */
  private[graft] def bucketSql: String = {
    val nib = (1 to 6).map { i =>
      val pow = math.pow(16, 6 - i).toLong
      s"(strpos('0123456789abcdef', substr(md5(doc_id::VARCHAR), $i, 1)) - 1) * $pow"
    }.mkString(" + ")
    s"(($nib) % 100)"
  }

  /** Row-local mix-keep predicate — bucket(doc_id) < rate(lang). The
    * SAME expression backs [[mixProjection]] and CurateStage's inline
    * mix flag (r17 optimization: the stage used to compute this via a
    * projection + join back on doc_id — one whole exchange for a
    * row-narrow decision; inlining removes the join without any
    * possibility of drift between the two spellings). */
  /** lang → dialed rate, as one fold — the single definition both
    * [[mixKeptExpr]] and [[mixProjection]] build on (r18 hygiene: the
    * two used to carry their own copies of this fold, so the "can
    * never drift" comment was only true of bucketCol). */
  private def mixRateExpr(
      rates: Seq[(String, Int)], defaultRate: Int): Column =
    rates.foldRight(lit(defaultRate): Column) {
      case ((l, r), rest) => when(col("lang") === l, lit(r)).otherwise(rest)
    }

  private[graft] def mixKeptExpr(
      rates: Seq[(String, Int)], defaultRate: Int): Column =
    bucketCol < mixRateExpr(rates, defaultRate)

  private def mixProjection(
      docs: DataFrame,
      rates: Seq[(String, Int)] = MixRates,
      defaultRate: Int = 0): DataFrame =
    docs.select(col("doc_id"), col("lang"),
        bucketCol.as("bucket"), mixRateExpr(rates, defaultRate).as("rate"),
        when(mixKeptExpr(rates, defaultRate), 1).otherwise(0).as("kept"))

  /** qc01: deterministic stratified mixture sampling — every doc gets a
    * stable [0,100) bucket from md5(doc_id) (NOT a seeded RNG: the
    * decision must be reproducible per document across runs, engines
    * and re-partitioning), and is kept iff bucket < rate(lang).
    * Row-narrow, zero shuffle; at 100 TB this is a scan that writes the
    * mix, with per-language proportions converging to the dialed rates
    * by the uniformity of the hash. */
  private def mixSample(s: SparkSession, dir: String): DataFrame =
    mixProjection(Tables(s, dir).documents).orderBy(col("doc_id"))

  /** Staged parquet copy for the streaming source, memoized per sf dir
    * and registered with WdsQueries' shutdown-hook scratch registry —
    * repeated st05 runs in one JVM reuse one copy instead of leaking a
    * fresh temp dir per invocation. */
  private val stagedDocs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  /** The documents fixture schema, declared once for every streaming
    * reader over the staged copy (a missed copy of this in one query
    * would null out a column silently under by-name parquet reads). */
  private[queries] val docsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("n_chars", LongType)))
  }

  private[queries] def docsStage(s: SparkSession, dir: String): String =
    stagedDocs.computeIfAbsent(dir, _ => {
      val stage = WdsQueries.scratchDir("graft_smix")
      Tables(s, dir).documents.write.mode("overwrite").parquet(stage)
      stage
    })

  /** st05: the SAME mixture curation as a stream — continuous-ingest
    * curation is the production deployment shape (new crawl shards
    * arrive, the mix decision is per-row and needs no state, so the
    * streaming plan is a stateless projection with no watermark). Must
    * equal the batch result, so it shares qc01's oracle. */
  private def streamMix(s: SparkSession, dir: String): DataFrame = {
    val stage = docsStage(s, dir)
    val src = s.readStream.schema(docsSchema).parquet(stage)
    val name = "stream_mix_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    graft.streaming.EventStreams.runToMemory(s, mixProjection(src), name)
      .orderBy(col("doc_id"))
  }

  private val mixSampleSql = {
    // hex → int without conv(): positional nibble arithmetic over the
    // first 6 md5 hex chars (value-identical to Spark's conv(_,16,10))
    val nib = (1 to 6).map { i =>
      val pow = math.pow(16, 6 - i).toLong
      s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * $pow"
    }.mkString(" + ")
    val rate = MixRates.map { case (l, r) =>
      s"WHEN lang = '$l' THEN $r"
    }.mkString("CASE ", " ", " ELSE 0 END")
    s"""WITH b AS (
       |  SELECT doc_id, lang, substr(md5(doc_id::VARCHAR), 1, 6) AS h
       |  FROM documents)
       |SELECT doc_id, lang, (($nib) % 100)::INT AS bucket,
       |  ($rate)::INT AS rate,
       |  CASE WHEN (($nib) % 100) < ($rate) THEN 1 ELSE 0 END AS kept
       |FROM b ORDER BY doc_id""".stripMargin
  }

  /** st06: decontamination as a STREAM-STATIC join — the streaming
    * join type st01–st05 don't cover: incoming crawl documents joined
    * against the (static, broadcast) eval-set gram table, aggregated in
    * Complete mode. Continuous decontamination is exactly how a
    * production ingest pipeline runs this scrub. Equal to the batch
    * qd11 by construction, so it shares its oracle. */
  private def streamDecontam(s: SparkSession, dir: String): DataFrame = {
    val stage = docsStage(s, dir)
    val src = s.readStream.schema(docsSchema).parquet(stage)
      .select(col("doc_id"), col("text"))
    val sh = graft.functions.ShingleHash.exploded(src, GramK)
    // static side: the batch eval gram set (tiny, broadcast)
    val evalGrams = exploded(s, dir)
      .filter(col("doc_id") % EvalMod === 0)
      .select(col("sh")).distinct()
    val joined = sh.filter(col("doc_id") % EvalMod =!= 0)
      .join(broadcast(evalGrams.withColumn("hit", lit(1))),
        Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0))).cast("int").as("n_hits"))
    val name = "stream_decontam_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    graft.streaming.EventStreams.runToMemory(s, joined, name,
      org.apache.spark.sql.streaming.OutputMode.Complete(),
      statePartitions = Some(4))
      .select(col("doc_id"), col("n_grams"), col("n_hits"),
        when(col("n_hits") > 0, 1).otherwise(0).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** Temperature-mix budget (docs to draw across all strata). */
  private val MixBudget = 200L

  /** qc02: temperature-scaled mixture sampling — the multilingual-LM
    * rebalancing rule p_g ∝ n_g^α (α = 1/2 here: exactly IEEE sqrt,
    * which both engines round correctly, unlike pow's libm spread).
    * Per (source, lang) stratum the allocation is
    * floor(B · w_g / Σw) with w_g = floor(1e6·√n_g) — integer
    * arithmetic after the one exact sqrt, so the hash gate holds; the
    * realized sample then takes each stratum's allocation by the SAME
    * stable md5(doc_id) order qc01 uses (reproducible across runs,
    * engines and repartitioning — never a seeded RNG).
    *
    * Scale shape: stratum weights are a tiny two-level aggregate
    * (groups ≪ rows, broadcast back); the per-doc rank is one window
    * over the stratum key. Upsampling low-resource strata (α < 1
    * flattens the head) is THE standard pretraining mix op. */
  private def temperatureMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(s, dir).documents
    val weighted = docs.groupBy($"source", $"lang")
      .agg(count(lit(1)).as("n_group"))
      .withColumn("w", floor(lit(1e6) * sqrt($"n_group")))
    // Σw as a broadcast 1-row aggregate cross-joined back, NOT an
    // unpartitioned window: the window form funnels every stratum row
    // through one partition, and nothing formally bounds #strata
    val grp = weighted
      .crossJoin(broadcast(weighted.agg(sum($"w").as("total_w"))))
      // capped at the stratum size: this mix samples WITHOUT
      // replacement, so α<1 can only flatten toward (not past) the
      // data a small stratum actually has
      .withColumn("alloc",
        least(expr(s"($MixBudget * w) div total_w"), $"n_group"))
    val byGrp = Window.partitionBy($"source", $"lang")
      .orderBy($"hkey", $"doc_id")
    docs.select($"doc_id", $"source", $"lang",
        md5(to_binary($"doc_id".cast("string"), lit("utf-8"))).as("hkey"))
      .join(grp, Seq("source", "lang"))
      .withColumn("rnk", row_number().over(byGrp))
      .filter($"rnk" <= $"alloc")
      .select($"source", $"lang", $"n_group", $"alloc",
        $"rnk".cast("long").as("rnk"), $"doc_id")
      .orderBy($"source", $"lang", $"rnk")
  }

  private val temperatureMixSql =
    s"""WITH grp AS (
       |  SELECT source, lang, count(*) AS n_group,
       |    floor(1e6 * sqrt(count(*)))::BIGINT AS w
       |  FROM documents GROUP BY source, lang),
       |alloc AS (
       |  SELECT source, lang, n_group,
       |    least((($MixBudget * w) // (SELECT sum(w) FROM grp))::BIGINT,
       |      n_group) AS alloc
       |  FROM grp),
       |ranked AS (
       |  SELECT d.source, d.lang, d.doc_id,
       |    row_number() OVER (PARTITION BY d.source, d.lang
       |      ORDER BY md5(d.doc_id::VARCHAR), d.doc_id)::BIGINT AS rnk
       |  FROM documents d)
       |SELECT r.source, r.lang, a.n_group, a.alloc, r.rnk, r.doc_id
       |FROM ranked r JOIN alloc a USING (source, lang)
       |WHERE r.rnk <= a.alloc
       |ORDER BY r.source, r.lang, r.rnk""".stripMargin

  /** qc08: TOKEN-budget mixture materialization — qc02's α = 1/2
    * rebalancing with the budget in the unit a pretraining run is
    * actually provisioned in: tokens, not documents. Per source the
    * weight is floor(1e6·√(source token mass)); the global budget
    * B = total tokens div 10 derives from the corpus itself (the same
    * query is meaningful at every scale factor); a source's token
    * quota is floor(B · w/Σw) (double ratio — each step correctly
    * rounded identically on both engines, and immune to the integer
    * overflow B·w would hit at lake scale); the realized pick is the
    * greedy prefix of the source's docs in stable md5(doc_id) order
    * whose RUNNING token sum stays within quota — the cumulative-sum
    * knapsack every token-budget mix job runs, expressed as one
    * window prefix sum (associative — no sequential fold needed).
    *
    * Scale: one corpus scan for per-doc token counts; source weights
    * are a tiny aggregate broadcast back. The prefix sum is TWO-PHASE
    * so no task ever sorts a whole source: docs range-bucket by the
    * leading hex nibble of the sort key (bucket = prefix of hkey, so
    * (bucket, hkey, doc_id) order IS (hkey, doc_id) order), phase 1
    * aggregates per-(source, bucket) token/count partials and turns
    * them into exclusive bucket offsets (≤ |sources|·16 rows — an
    * audit-table-sized window, broadcast back), phase 2 runs the
    * row_number/cumsum window partitioned by (source, BUCKET) and
    * adds the offsets — identical semantics to the one-window form
    * (the gate's oracle is unchanged), but a skewed huge source now
    * spreads over 16 tasks instead of one. PlanAuditSpec pins that
    * every doc-level window partitions by more than the source. */
  private def tokenBudgetMix(s: SparkSession, dir: String): DataFrame =
    tokenBudgetFrom(Tables(s, dir).documents, 10)
      .orderBy(col("source"), col("rnk"))

  /** qc08's core over any (doc_id, source, text) frame: per-source
    * α = 1/2 token quotas out of budget B = total tokens div `budgetDiv`,
    * filled by the greedy md5-ordered prefix via the two-phase prefix
    * sum. Shared by the qc08 gate and the curate funnel's
    * `--token-budget-div` stage (qc09). */
  private[graft] def tokenBudgetFrom(
      docs: DataFrame, budgetDiv: Int): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    // div 0 would yield a NULL quota and silently select nothing;
    // null sources would silently vanish in the source joins below —
    // both are caller errors, failed loudly (the null check is the
    // caller's: CurateStage validates before calling)
    require(budgetDiv > 0, s"budgetDiv must be positive, got $budgetDiv")
    val toks = docs.select($"doc_id", $"source",
      size(filter(split($"text", " "), w => w =!= lit("")))
        .cast("long").as("n_tok"),
      md5(to_binary($"doc_id".cast("string"), lit("utf-8"))).as("hkey"))
      .withColumn("bkt", substring($"hkey", 1, 1))
    val perSrc = toks.groupBy($"source")
      .agg(sum($"n_tok").as("src_toks"))
      .withColumn("w", floor(lit(1e6) * sqrt($"src_toks")))
    val tot = perSrc.agg(sum($"w").as("total_w"),
      sum($"src_toks").as("total_toks"))
    val quota = perSrc.crossJoin(broadcast(tot))
      .withColumn("quota_tok",
        expr(s"floor(CAST(total_toks div $budgetDiv AS DOUBLE) * " +
          "(CAST(w AS DOUBLE) / CAST(total_w AS DOUBLE)))"))
      .select($"source", $"src_toks", $"quota_tok")
    // phase 1: per-(source, bucket) partials → exclusive offsets
    val byBkt = Window.partitionBy($"source").orderBy($"bkt")
    val offsets = toks.groupBy($"source", $"bkt")
      .agg(sum($"n_tok").as("b_tok"), count(lit(1)).as("b_cnt"))
      .withColumn("off_tok", coalesce(sum($"b_tok").over(
        byBkt.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("off_cnt", coalesce(sum($"b_cnt").over(
        byBkt.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select($"source", $"bkt", $"off_tok", $"off_cnt")
    // phase 2: bucket-local window + offsets = the global prefix sum
    val byBucket = Window.partitionBy($"source", $"bkt")
      .orderBy($"hkey", $"doc_id")
    toks.join(quota, "source")
      .join(broadcast(offsets), Seq("source", "bkt"))
      .withColumn("rnk",
        row_number().over(byBucket).cast("long") + $"off_cnt")
      .withColumn("cum_tok", sum($"n_tok").over(
        byBucket.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        + $"off_tok")
      .filter($"cum_tok" <= $"quota_tok")
      .select($"source", $"src_toks", $"quota_tok", $"rnk", $"cum_tok",
        $"doc_id")
  }

  /** qc09: the funnel ENDING in the token-budget mixture — quality →
    * exact dedup → span filter → per-source α=1/2 token quotas filled
    * greedily over the SURVIVORS. This is the composition a
    * pretraining data job actually ships (dedup first, then provision
    * the token budget over what survived — budgeting before dedup
    * would let duplicates eat quota); gated per SOURCE with picked-doc
    * counts AND picked-token sums, so a same-size-but-different pick
    * set (wrong md5 order, wrong quota) fails the hash. Exercises
    * `CurateOptions.tokenBudgetDiv` / `--token-budget-div`, the
    * funnel form of qc08. */
  private def budgetFunnel(s: SparkSession, dir: String): DataFrame = {
    val res = graft.curate.CurateStage.run(
      Tables(s, dir).documents.select(col("doc_id"), col("text"),
        col("lang"), col("source")),
      graft.curate.CurateStage.CurateOptions(
        minWords = 30, maxDupFrac = 0.5, gramK = GramK,
        tokenBudgetDiv = Some(10)))
    val out = res.curated
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_picked"),
        sum(size(filter(split(col("text"), " "), w => w =!= lit("")))
          .cast("long")).as("toks_picked"))
      .orderBy(col("source"))
    // materialize before releasing the funnel's cached frame
    val rows = out.collect().toSeq
    res.close()
    val sess = s
    import sess.implicits._
    rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toDF("source", "n_picked", "toks_picked")
  }

  /** Replays quality → exact-dedup → span over `documents`, then the
    * qc08 quota/greedy CTEs restricted to the span survivors. */
  private val budgetFunnelSql = {
    val nw = "len(string_split(text, ' '))"
    s"""WITH q AS (
       |  SELECT doc_id FROM documents
       |  WHERE text IS NOT NULL AND $nw >= 30
       |    AND (length(text) - ($nw - 1))::DOUBLE / $nw
       |        BETWEEN 3.0 AND 10.0
       |    AND NOT (contains(lower(text), 'lorem ipsum')
       |      OR contains(text, '{')
       |      OR contains(lower(text), 'javascript'))),
       |ek AS (
       |  SELECT min(d.doc_id) AS doc_id
       |  FROM documents d JOIN q USING (doc_id) GROUP BY md5(d.text)),
       |g5 AS ($shingleHashesSqlCte),
       |e5 AS (
       |  SELECT g.doc_id, unnest(shs) AS sh
       |  FROM g5 g JOIN ek USING (doc_id)),
       |df5 AS (SELECT sh, count(*) AS df FROM e5 GROUP BY sh),
       |sp AS (
       |  SELECT doc_id FROM e5 JOIN df5 USING (sh) GROUP BY doc_id
       |  HAVING round(
       |    sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)::DOUBLE / count(*),
       |    6) <= 0.5),
       |toks AS (
       |  SELECT d.doc_id, d.source,
       |    len(list_filter(string_split(d.text, ' '), x -> x <> ''))::BIGINT
       |      AS n_tok,
       |    md5(d.doc_id::VARCHAR) AS hkey
       |  FROM documents d JOIN sp USING (doc_id)),
       |grp AS (
       |  SELECT source, sum(n_tok)::BIGINT AS src_toks,
       |    floor(1e6 * sqrt(sum(n_tok)))::BIGINT AS w
       |  FROM toks GROUP BY source),
       |tot AS (SELECT sum(w)::BIGINT AS total_w,
       |               sum(src_toks)::BIGINT AS total_toks FROM grp),
       |quota AS (
       |  SELECT source,
       |    floor(((total_toks // 10)::DOUBLE) *
       |          (w::DOUBLE / total_w::DOUBLE))::BIGINT AS quota_tok
       |  FROM grp, tot),
       |ranked AS (
       |  SELECT t.source, t.doc_id, t.n_tok,
       |    sum(t.n_tok) OVER (PARTITION BY t.source
       |      ORDER BY t.hkey, t.doc_id
       |      ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tok
       |  FROM toks t)
       |SELECT r.source, count(*)::BIGINT AS n_picked,
       |  sum(r.n_tok)::BIGINT AS toks_picked
       |FROM ranked r JOIN quota qu USING (source)
       |WHERE r.cum_tok <= qu.quota_tok
       |GROUP BY r.source ORDER BY r.source""".stripMargin
  }

  private val tokenBudgetMixSql =
    """WITH toks AS (
      |  SELECT doc_id, source,
      |    len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT
      |      AS n_tok,
      |    md5(doc_id::VARCHAR) AS hkey
      |  FROM documents),
      |grp AS (
      |  SELECT source, sum(n_tok)::BIGINT AS src_toks,
      |    floor(1e6 * sqrt(sum(n_tok)))::BIGINT AS w
      |  FROM toks GROUP BY source),
      |tot AS (SELECT sum(w)::BIGINT AS total_w,
      |               sum(src_toks)::BIGINT AS total_toks FROM grp),
      |quota AS (
      |  SELECT source, src_toks,
      |    floor(((total_toks // 10)::DOUBLE) *
      |          (w::DOUBLE / total_w::DOUBLE))::BIGINT AS quota_tok
      |  FROM grp, tot),
      |ranked AS (
      |  SELECT t.source, t.doc_id, t.n_tok,
      |    row_number() OVER (PARTITION BY t.source
      |      ORDER BY t.hkey, t.doc_id)::BIGINT AS rnk,
      |    sum(t.n_tok) OVER (PARTITION BY t.source
      |      ORDER BY t.hkey, t.doc_id
      |      ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tok
      |  FROM toks t)
      |SELECT r.source, q.src_toks, q.quota_tok, r.rnk, r.cum_tok, r.doc_id
      |FROM ranked r JOIN quota q USING (source)
      |WHERE r.cum_tok <= q.quota_tok
      |ORDER BY r.source, r.rnk""".stripMargin

  /** st07: streaming distinct-cardinality monitoring — the KMV sketch
    * aggregate running INSIDE a streaming aggregation (Complete mode).
    * This is the ingest-drift sentinel of a production pipeline: per
    * source, "how many distinct shingles have we seen so far" updates
    * each micro-batch in O(k) state per group, where a streaming exact
    * count(DISTINCT) is unsupported/unbounded. The sketch's set
    * semantics make the explicit `.distinct()` of the batch path
    * unnecessary — dedup happens inside the aggregate's k-long buffer.
    * Must equal qd13's kth hash and estimate exactly (a set minimum is
    * replay/order-free), so it shares that oracle's projection. */
  private def streamKmv(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KmvSketch
    import DedupQueries.KmvK
    val stage = docsStage(s, dir)
    val src = s.readStream.schema(docsSchema).parquet(stage)
    val sketched = DedupQueries.bigramHashes(src)
      .groupBy(col("source"))
      .agg(KmvSketch.kmvSketch(col("h"), KmvK).as("sk"))
    val name = "stream_kmv_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    graft.streaming.EventStreams.runToMemory(s, sketched, name,
      org.apache.spark.sql.streaming.OutputMode.Complete(),
      statePartitions = Some(4))
      .select(col("source"),
        element_at(col("sk"), least(lit(KmvK), size(col("sk"))))
          .as("kth_hash"),
        KmvSketch.estimate(col("sk"), KmvK).as("est_distinct"))
      .orderBy(col("source"))
  }

  private val streamKmvSql = {
    import DedupQueries.{KmvK, KmvSpace}
    s"""WITH base AS (
       |  SELECT source, string_split(lower(text), ' ') AS ws
       |  FROM documents),
       |bg AS (
       |  SELECT source, ws[i] || ' ' || ws[i + 1] AS bg
       |  FROM (SELECT source, ws,
       |          unnest(generate_series(1, len(ws) - 1)) AS i FROM base)),
       |hashed AS (
       |  SELECT DISTINCT source,
       |    ('0x' || substr(md5(bg), 1, 15))::BIGINT AS h
       |  FROM bg),
       |ranked AS (
       |  SELECT source, h,
       |    row_number() OVER (PARTITION BY source ORDER BY h) AS rnk,
       |    count(*) OVER (PARTITION BY source) AS n_distinct
       |  FROM hashed)
       |SELECT source, h AS kth_hash,
       |  CASE WHEN n_distinct < $KmvK THEN n_distinct
       |       ELSE floor(${KmvK - 1}.0 * $KmvSpace / h)::BIGINT
       |  END AS est_distinct
       |FROM ranked
       |WHERE rnk = least($KmvK, n_distinct)
       |ORDER BY source""".stripMargin
  }

  /** qc03: curriculum export — a total global ordering of the corpus
    * (here: longest-first + doc_id tiebreak, the schedule a curriculum
    * trainer consumes) WITHOUT the single-partition global window that
    * `row_number() OVER (ORDER BY …)` plans naively. The scale-native
    * two-level form: tag each row with an explicit score-range bin
    * (deterministic literals — see curriculumOf), rank locally per bin
    * (parallel windows), add per-bin prefix-sum offsets from a tiny
    * broadcast join. No single-partition exchange or unpartitioned
    * window touches document rows anywhere in the plan. */
  private def curriculum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = Tables(s, dir).documents
      .select($"doc_id", $"n_chars".as("score"))
    curriculumOf(scored,
      s.conf.get("spark.sql.shuffle.partitions").toInt)
      .orderBy($"rank")
  }

  /** Query-path body — (rank, doc_id, score) for a (doc_id, score)
    * frame. Unsorted: the gate adds the presentation orderBy.
    *
    * Bins are an EXPLICIT deterministic function of the row: boundaries
    * come from one eager approxQuantile pass collected to nParts-1
    * driver-side literals, so the rank branch and the offsets branch
    * can never disagree on a row's bin (the previous form relied on
    * the physical planner reusing one sampled range exchange — a
    * plan-shape dependency, not a semantic guarantee). Rank values are
    * bin-boundary-independent: any monotone split of a total order
    * yields the same offsets+local-ranks sum, so approxQuantile's
    * precision only shapes skew, never values. The prefix-sum offsets
    * are a broadcast triangle join over ≤nParts count rows — no
    * single-partition exchange or unpartitioned window anywhere.
    *
    * Pass count vs round 4: three passes instead of one reused
    * exchange, but the quantile pass and the bin-count pass are pruned
    * to the SORT-KEY COLUMN only (on columnar storage ~1-5% of corpus
    * bytes each); only the final rank pass reads full rows. That is
    * the price of removing the correctness-by-plan-shape dependency —
    * callers exporting from a hot cache can persist `scored` first to
    * collapse the extra column reads. */
  private def curriculumOf(
      scored: DataFrame, nParts: Int): DataFrame = {
    import scored.sparkSession.implicits._
    val probs = (1 until nParts).map(_.toDouble / nParts).toArray
    val bounds =
      if (probs.isEmpty) Array.empty[Double]
      else scored.select($"score".cast("double").as("score"))
        .stat.approxQuantile("score", probs, 0.001).distinct.sorted
    // descending bins: bin 0 holds the highest scores; strict > keeps
    // every row of a tied score in one bin
    val bin = bounds.reverse.zipWithIndex
      .foldRight(lit(bounds.length): Column) { case ((b, i), acc) =>
        when($"score" > lit(b), lit(i)).otherwise(acc)
      }
    val parts = scored.withColumn("bin", bin.cast("int"))
    val cnts = parts.groupBy($"bin").agg(count(lit(1)).as("cnt"))
    val offs = cnts.as("a")
      .join(cnts.select($"bin".as("pbin"), $"cnt".as("pcnt")),
        $"pbin" < $"bin", "left")
      .groupBy($"bin").agg(coalesce(sum($"pcnt"), lit(0L)).as("off"))
    val local = org.apache.spark.sql.expressions.Window
      .partitionBy($"bin").orderBy($"score".desc, $"doc_id")
    parts.join(broadcast(offs), Seq("bin"))
      .select(($"off" + row_number().over(local)).as("rank"),
        $"doc_id", $"score")
  }

  private val curriculumSql =
    """SELECT row_number() OVER (ORDER BY n_chars DESC, doc_id)::BIGINT
      |    AS rank, doc_id, n_chars AS score
      |FROM documents ORDER BY rank""".stripMargin

  /** qc04: sequence-length bucketing — group docs into power-of-two
    * token-length buckets (floor 32) and report the padding waste each
    * bucket pays, the batching-efficiency audit run before choosing
    * packing/bucketing boundaries. The bucket is computed with pure
    * integer arithmetic (`1 << length(bin(n-1))`) — a float log2 would
    * risk cross-engine ceil() disagreement at exact powers of two. */
  private def lengthBuckets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir).documents
      .select($"doc_id",
        size(split($"text", " ")).cast("long").as("n_tokens"))
      .withColumn("bucket", expr(
        "CAST(shiftleft(CAST(1 AS BIGINT), " +
          "length(bin(greatest(n_tokens, 32L) - 1))) AS BIGINT)"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("sum_tokens"),
        sum($"bucket" - $"n_tokens").as("pad_waste"))
      .withColumn("waste_pct",
        round($"pad_waste" * 100.0 / ($"bucket" * $"n_docs"), 4))
      .orderBy($"bucket")
  }

  private val lengthBucketsSql =
    """WITH t AS (
      |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, n_tokens,
      |    (1::BIGINT << length(bin(greatest(n_tokens, 32) - 1)))::BIGINT
      |      AS bucket
      |  FROM t)
      |SELECT bucket, count(*) AS n_docs, sum(n_tokens)::BIGINT AS sum_tokens,
      |  sum(bucket - n_tokens)::BIGINT AS pad_waste,
      |  round(sum(bucket - n_tokens) * 100.0 / (bucket * count(*)), 4)
      |    AS waste_pct
      |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin

  /** qc05: caption↔media embedding-alignment filter (the LAION recipe:
    * keep pairs whose CLIP-style cosine clears a floor). Pairs are the
    * fixture convention (vec 2k = media, 2k+1 = its caption); cosine is
    * the native codegen'd expression, rounded before thresholding so
    * the filter is replay-stable. One equi-join on pair_id — embedding
    * payloads move once, and at scale the pairing is already co-located
    * because both rows ship in the same ingest record. */
  private def alignmentFilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables(s, dir).embeddings
    val media = e.filter($"vec_id" % 2 === 0)
      .select(($"vec_id" / 2).cast("long").as("pair_id"),
        $"embedding".as("mv"))
    val caption = e.filter($"vec_id" % 2 === 1)
      .select((($"vec_id" - 1) / 2).cast("long").as("pair_id"),
        $"embedding".as("cv"))
    media.join(caption, Seq("pair_id"))
      .select($"pair_id",
        round(graft.functions.CosineSimilarity.cosineSim($"mv", $"cv"), 6)
          .as("alignment"))
      .filter($"alignment" >= 0.05)
      .orderBy($"pair_id")
  }

  private val alignmentFilterSql =
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |m AS (SELECT vec_id // 2 AS pair_id, emb AS mv FROM e
      |  WHERE vec_id % 2 = 0),
      |c AS (SELECT (vec_id - 1) // 2 AS pair_id, emb AS cv FROM e
      |  WHERE vec_id % 2 = 1),
      |s AS (
      |  SELECT pair_id,
      |    round(list_sum(list_transform(generate_series(1, len(mv)),
      |            i -> mv[i] * cv[i]))
      |      / (sqrt(list_sum(list_transform(generate_series(1, len(mv)),
      |            i -> mv[i] * mv[i])))
      |       * sqrt(list_sum(list_transform(generate_series(1, len(cv)),
      |            i -> cv[i] * cv[i])))), 6) AS alignment
      |  FROM m JOIN c USING (pair_id))
      |SELECT pair_id, alignment FROM s WHERE alignment >= 0.05
      |ORDER BY pair_id""".stripMargin

  /** DSIR hashed-feature space and selection budget. */
  private val DsirBuckets = 64
  private val DsirBudget = 150L

  /** Token → md5 feature bucket, ONE contract for every hashed-feature
    * model (qc06 DSIR, qt17 inference): first 8 md5 hex nibbles mod n.
    * The SQL twin must be interpolated wherever a DuckDB oracle
    * replays it. */
  private[queries] def md5Bucket(c: Column, n: Int): Column =
    (conv(substring(md5(to_binary(c, lit("utf-8"))), 1, 8), 16, 10)
      .cast("long") % n)

  private[queries] def md5BucketSql(e: String, n: Int): String =
    s"('0x' || substr(md5($e), 1, 8))::BIGINT % $n"

  /** qc06: importance-resampling data selection (the DSIR recipe, Xie et
    * al. 2023): score every document by how much its hashed-unigram
    * distribution looks like a TARGET domain (here lang='en') relative to
    * the raw corpus, then keep the top-weighted subset. Bucket models are
    * add-one-smoothed token counts over [[DsirBuckets]] md5 buckets; the
    * per-token importance ratio p_target/p_raw is carried as a ppm
    * integer ((1e6·pt_ppm) div pr_ppm), so the per-doc mean is an
    * order-free integer sum — the log-sum of the paper is replaced by the
    * mean ratio, a monotone surrogate that keeps the hash gate exact. The
    * resampling draw is realized as the deterministic md5(doc_id) order
    * within equal scores (same stable-order trick as qc01/qc02 — never a
    * seeded RNG).
    *
    * Scale shape: ONE corpus pass builds both bucket models (conditional
    * sum inside a single 64-row aggregate, broadcast back); the second
    * corpus pass scores tokens against the broadcast ratio table and
    * aggregates per doc; selection is orderBy().limit() →
    * TakeOrderedAndProject (distributed partial top-k). Nothing wider
    * than (doc_id, bucket) ever shuffles. */
  private def dsirSelect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(s, dir).documents
    // ONE corpus pass: token → (doc, bucket) counts; both the bucket
    // models (second-level agg over the doc-grain counts) and the
    // per-doc scores derive from this frame — at 100 TB that's one
    // scan of the corpus, not two
    val docBuckets = docs.select($"doc_id", $"lang",
        explode(words($"text")).as("w"))
      .select($"doc_id", $"lang", md5Bucket($"w", DsirBuckets).as("b"))
      .groupBy($"doc_id", $"lang", $"b").agg(count(lit(1)).as("c"))
    val buckets = docBuckets.groupBy($"b").agg(
      sum($"c").as("cr"),
      sum(when($"lang" === "en", $"c").otherwise(0L)).as("ct"))
    val totals = buckets.agg(sum($"cr").as("tr"), sum($"ct").as("tt"))
    // greatest(…, 1): pr_ppm floors to 0 when a bucket is ~1e6× colder
    // than uniform (tr > ~1e6·cr) — without the clamp Spark's div
    // yields NULL (silent score corruption) and DuckDB's // errors
    val ratio = broadcast(buckets.crossJoin(broadcast(totals))
      .select($"b", expr(
        s"""(1000000 * ((1000000 * (ct + 1)) div (tt + $DsirBuckets)))
           | div greatest((1000000 * (cr + 1)) div (tr + $DsirBuckets), 1L)"""
          .stripMargin.replace("\n", "")).as("r_ppm")))
    val per = docBuckets.join(ratio, "b").groupBy($"doc_id")
      .agg(sum($"c").as("n_tokens"), sum($"c" * $"r_ppm").as("sum_ppm"))
    val scored = docs.select($"doc_id", $"lang",
        md5(to_binary($"doc_id".cast("string"), lit("utf-8"))).as("hkey"))
      .join(per, "doc_id")
      .select($"doc_id", $"lang", $"n_tokens",
        expr("sum_ppm div n_tokens").as("score_ppm"), $"hkey")
      .orderBy($"score_ppm".desc, $"hkey", $"doc_id")
      .limit(DsirBudget.toInt)
    val w = Window.orderBy($"score_ppm".desc, $"hkey", $"doc_id")
    scored.withColumn("rank", row_number().over(w))
      .select($"rank", $"doc_id", $"lang", $"n_tokens", $"score_ppm")
      .orderBy($"rank")
  }

  private val dsirSelectSql =
    s"""WITH base AS (
       |  SELECT doc_id, lang, string_split(lower(text), ' ') AS ws
       |  FROM documents),
       |db AS (
       |  SELECT doc_id, lang, b, count(*)::BIGINT AS c
       |  FROM (SELECT doc_id, lang,
       |          ${md5BucketSql("w", DsirBuckets)} AS b
       |        FROM (SELECT doc_id, lang, unnest(ws) AS w FROM base))
       |  GROUP BY doc_id, lang, b),
       |buckets AS (
       |  SELECT b, sum(c)::BIGINT AS cr,
       |    sum(CASE WHEN lang = 'en' THEN c ELSE 0 END)::BIGINT AS ct
       |  FROM db GROUP BY b),
       |totals AS (SELECT sum(cr)::BIGINT AS tr, sum(ct)::BIGINT AS tt
       |           FROM buckets),
       |ratio AS (
       |  SELECT b, ((1000000 * ((1000000 * (ct + 1)) // (tt + $DsirBuckets)))
       |    // greatest((1000000 * (cr + 1)) // (tr + $DsirBuckets), 1))::BIGINT
       |    AS r_ppm
       |  FROM buckets, totals),
       |per AS (
       |  SELECT doc_id, sum(c)::BIGINT AS n_tokens,
       |    sum(c * r_ppm)::BIGINT AS sum_ppm
       |  FROM db JOIN ratio USING (b) GROUP BY doc_id),
       |scored AS (
       |  SELECT d.doc_id, d.lang, n_tokens,
       |    (sum_ppm // n_tokens)::BIGINT AS score_ppm,
       |    md5(d.doc_id::VARCHAR) AS hkey
       |  FROM documents d JOIN per USING (doc_id))
       |SELECT row_number() OVER (ORDER BY score_ppm DESC, hkey, doc_id)::INT
       |    AS rank, doc_id, lang, n_tokens, score_ppm
       |FROM scored
       |ORDER BY score_ppm DESC, hkey, doc_id LIMIT $DsirBudget""".stripMargin

  /** Eval-set parquet for the funnel's decontamination stage (text-only
    * slice, doc_id % EvalMod == 0 — the same held-out contract as
    * qd11/st06), staged once per sf dir. */
  private val stagedEval =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def evalStage(s: SparkSession, dir: String): String =
    stagedEval.computeIfAbsent(dir, _ => {
      val stage = WdsQueries.scratchDir("graft_eval")
      Tables(s, dir).documents
        .filter(col("doc_id") % EvalMod === 0)
        .select(col("text"))
        .write.mode("overwrite").parquet(stage)
      stage
    })

  /** qc07: the CurateStage funnel END-TO-END as one oracle row — the
    * user-facing product (`Pipeline --stage curate`) run over the
    * fixture corpus with every stage enabled: quality → mix →
    * exact-dedup → near-dup (LSH → Jaccard ≥ 0.5 → connected
    * components) → dup-span → decontam (held-out eval slice). The
    * output is the audit funnel (survivor count after each sequential
    * stage); the DuckDB oracle recomputes every stage's survivor SET —
    * each stage over the previous stage's survivors, exactly the
    * sequential semantics CurateStage documents — so a drift in any
    * stage's decision for any single document shifts a sum. Bench
    * note: this is deliberately the heaviest gate row (~6 s at
    * sf0.1); a per-stage attribution (SCALE.md) put 85% of it in the
    * near-dup stage (LSH + exact Jaccard + checkpointed CC — the
    * transitive correctness the funnel exists for), adjudicated as an
    * explained floor in SCALE.md, sub-linear at sf1. The stats
    * row is a bounded 1-row collect; the stage's internal caches are
    * released before returning. */
  private def curateFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val res = graft.curate.CurateStage.run(
      Tables(s, dir).documents.select(col("doc_id"), col("text"),
        col("lang")),
      graft.curate.CurateStage.CurateOptions(
        minWords = 30, maxDupFrac = 0.5,
        rates = MixRates, defaultRate = 0, gramK = GramK,
        evalPath = Some(evalStage(s, dir)),
        nearDupJaccard = Some(0.5)))
    val r = res.stats.collect()(0)
    res.close()
    // by NAME: the stats frame grows a column whenever the funnel
    // gains an opt-in stage (cont_keep), and this gate's contract is
    // the base stages — positional extraction would silently shift
    Seq((r.getAs[Long]("n_docs"), r.getAs[Long]("quality_keep"),
        r.getAs[Long]("mix_keep"), r.getAs[Long]("exact_keep"),
        r.getAs[Long]("near_keep"), r.getAs[Long]("span_keep"),
        r.getAs[Long]("decontam_keep"), r.getAs[Long]("n_curated")))
      .toDF("n_docs", "quality_keep", "mix_keep", "exact_keep",
        "near_keep", "span_keep", "decontam_keep", "n_curated")
  }

  /** qc10: qc07's funnel with the qd27 bucket-cap skew guard enabled —
    * the production posture for corpora with hot near-dup families.
    * The uncapped funnel's candidate set is inherently quadratic in
    * family size (a 100-member family of GENUINELY distinct near-dups
    * has 4,950 true pairs; no algorithm that verifies each pair avoids
    * them); here hot candidate buckets drop whole and cost stays
    * bucket-bounded — the decade ring measured 32.5 s at sf10 vs the
    * uncapped 249 s. Semantics differ from qc07 by exactly the
    * documented qd27 loss — members of over-cap buckets with no other
    * witness band stay unclustered. At the sf gates the cap does NOT
    * bind (exact-dedup runs first and shrinks every family below 10),
    * so qc10 == qc07 there by data and the oracle verifies the capped
    * bucket arithmetic agrees across engines; the BINDING divergence
    * is pinned where it can bind — CurateStageSpec's cap-1 row (pairs
    * vanish, members survive as singletons) and qd27's own gate (cap
    * binds on the raw corpus at sf0.1). */
  private def curateFunnelCapped(
      s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val res = graft.curate.CurateStage.run(
      Tables(s, dir).documents.select(col("doc_id"), col("text"),
        col("lang")),
      graft.curate.CurateStage.CurateOptions(
        minWords = 30, maxDupFrac = 0.5,
        rates = MixRates, defaultRate = 0, gramK = GramK,
        evalPath = Some(evalStage(s, dir)),
        nearDupJaccard = Some(0.5),
        lshBucketCap = Some(DedupQueries.LshBucketCap)))
    val r = res.stats.collect()(0)
    res.close()
    Seq((r.getAs[Long]("n_docs"), r.getAs[Long]("quality_keep"),
        r.getAs[Long]("mix_keep"), r.getAs[Long]("exact_keep"),
        r.getAs[Long]("near_keep"), r.getAs[Long]("span_keep"),
        r.getAs[Long]("decontam_keep"), r.getAs[Long]("n_curated")))
      .toDF("n_docs", "quality_keep", "mix_keep", "exact_keep",
        "near_keep", "span_keep", "decontam_keep", "n_curated")
  }

  /** Sequential-survivor replay of the whole funnel. Reuses the dedup
    * tier's minhash/LSH CTEs (full-corpus signatures are per-document,
    * so restricting candidate pairs to exact-dedup survivors equals
    * running LSH over the survivor subset) and the 5-gram CTE for
    * spans/decontam (document frequency counted over span-stage
    * survivors ONLY, eval grams over the raw held-out slice). */
  /** Funnel oracle with the near-dup CANDIDATE CTE (`c3`, pairs over
    * exact-dedup survivors) pluggable: the uncapped gate restricts the
    * full-corpus `cand` to survivors; the capped gate (qc10) rebuilds
    * buckets over the survivor set and drops over-cap buckets whole —
    * exactly where the engine applies the cap (`jaccardFrom(s3, tau,
    * lshBucketCap)` builds bands over s3). Band values per doc are a
    * pure function of the doc's own signature, so restricting `eb` to
    * s3 equals recomputing bands over s3. */
  private def curateFunnelSqlFor(c3Cte: String): String = {
    val rate = MixRates.map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
      .mkString("CASE ", " ", " ELSE 0 END")
    val nw = "len(string_split(text, ' '))"
    s"""${DedupQueries.sigSqlCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |${DedupQueries.candSqlCtes},
       |q AS (
       |  SELECT doc_id, CASE WHEN text IS NOT NULL
       |    AND $nw >= 30
       |    AND (length(text) - ($nw - 1))::DOUBLE / $nw
       |        BETWEEN 3.0 AND 10.0
       |    AND NOT (contains(lower(text), 'lorem ipsum')
       |      OR contains(text, '{')
       |      OR contains(lower(text), 'javascript'))
       |    THEN 1 ELSE 0 END AS quality_keep
       |  FROM documents),
       |m AS (
       |  SELECT d.doc_id,
       |    CASE WHEN q.quality_keep = 1 AND $bucketSql < ($rate)
       |    THEN 1 ELSE 0 END AS mix_keep
       |  FROM documents d JOIN q USING (doc_id)),
       |ek AS (
       |  SELECT min(d.doc_id) AS doc_id
       |  FROM documents d JOIN m USING (doc_id)
       |  WHERE m.mix_keep = 1 GROUP BY md5(d.text)),
       |s3 AS (SELECT doc_id FROM ek),
       |$c3Cte,
       |sh3 AS (
       |  SELECT doc_id, unnest(list_distinct(shs)) AS sh
       |  FROM s JOIN s3 USING (doc_id)),
       |sz3 AS (SELECT doc_id, count(*) AS n_sh FROM sh3 GROUP BY 1),
       |shr AS (
       |  SELECT a_id, b_id, count(*) AS shared
       |  FROM c3 JOIN sh3 sa ON a_id = sa.doc_id
       |  JOIN sh3 sb ON b_id = sb.doc_id AND sa.sh = sb.sh
       |  GROUP BY a_id, b_id),
       |vp AS (
       |  SELECT a_id, b_id
       |  FROM shr JOIN sz3 na ON a_id = na.doc_id
       |  JOIN sz3 nb ON b_id = nb.doc_id
       |  WHERE round(shared::DOUBLE / (na.n_sh + nb.n_sh - shared), 6)
       |    >= 0.5),
       |ee AS (
       |  SELECT a_id AS src, b_id AS dst FROM vp
       |  UNION ALL SELECT b_id, a_id FROM vp),
       |reach(id, label) AS (
       |  SELECT doc_id, doc_id FROM s3
       |  UNION
       |  SELECT eg.dst, r.label FROM reach r JOIN ee eg ON eg.src = r.id),
       |cc AS (
       |  SELECT id AS doc_id,
       |    CASE WHEN id = min(label) THEN 1 ELSE 0 END AS near_keep
       |  FROM reach GROUP BY id),
       |s4 AS (SELECT doc_id FROM cc WHERE near_keep = 1),
       |g5 AS ($shingleHashesSqlCte),
       |e5 AS (
       |  SELECT g.doc_id, unnest(shs) AS sh
       |  FROM g5 g JOIN s4 USING (doc_id)),
       |df5 AS (SELECT sh, count(*) AS df FROM e5 GROUP BY sh),
       |sp AS (
       |  SELECT doc_id, CASE WHEN round(
       |      sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)::DOUBLE / count(*),
       |      6) <= 0.5 THEN 1 ELSE 0 END AS span_keep
       |  FROM e5 JOIN df5 USING (sh) GROUP BY doc_id),
       |s5 AS (SELECT doc_id FROM sp WHERE span_keep = 1),
       |ev AS (
       |  SELECT DISTINCT sh FROM (
       |    SELECT unnest(shs) AS sh FROM g5
       |    WHERE doc_id % $EvalMod = 0) t),
       |ct AS (
       |  SELECT e5.doc_id,
       |    max(CASE WHEN ev.sh IS NOT NULL THEN 1 ELSE 0 END)
       |      AS contaminated
       |  FROM e5 JOIN s5 USING (doc_id)
       |  LEFT JOIN ev ON e5.sh = ev.sh
       |  GROUP BY e5.doc_id)
       |SELECT
       |  (SELECT count(*) FROM documents)::BIGINT AS n_docs,
       |  (SELECT sum(quality_keep) FROM q)::BIGINT AS quality_keep,
       |  (SELECT sum(mix_keep) FROM m)::BIGINT AS mix_keep,
       |  (SELECT count(*) FROM s3)::BIGINT AS exact_keep,
       |  (SELECT count(*) FROM s4)::BIGINT AS near_keep,
       |  (SELECT count(*) FROM s5)::BIGINT AS span_keep,
       |  (SELECT sum(1 - contaminated) FROM ct)::BIGINT AS decontam_keep,
       |  (SELECT sum(1 - contaminated) FROM ct)::BIGINT AS n_curated"""
      .stripMargin
  }

  private val curateFunnelSql = curateFunnelSqlFor(
    """c3 AS (
      |  SELECT a_id, b_id FROM cand
      |  JOIN s3 a ON a_id = a.doc_id JOIN s3 b ON b_id = b.doc_id)"""
      .stripMargin)

  private val curateFunnelCappedSql = curateFunnelSqlFor(
    s"""eb3 AS (
      |  SELECT eb.doc_id, eb.band FROM eb JOIN s3 USING (doc_id)),
      |hot3 AS (SELECT band FROM eb3 GROUP BY band
      |         HAVING count(*) > ${DedupQueries.LshBucketCap}),
      |ebk AS (SELECT doc_id, band FROM eb3 ANTI JOIN hot3 USING (band)),
      |c3 AS (
      |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM ebk a JOIN ebk b ON a.band = b.band
      |   AND a.doc_id < b.doc_id)""".stripMargin)

  override val defs: Map[String, QueryDef] = Map(
    // bench: qc10 is the documented 100 TB production posture (capped
    // LSH buckets) — a cap/anti-join regression must stamp the radar,
    // not just the ring (round-15 verdict #2)
    "qc10_curate_funnel_capped" ->
      QueryDef(curateFunnelCapped, Some(curateFunnelCappedSql),
        bench = true),
    "qc07_curate_funnel" -> QueryDef(curateFunnel, Some(curateFunnelSql),
      bench = true),
    "qc06_dsir_select" -> QueryDef(dsirSelect, Some(dsirSelectSql), bench = true),
    "qc04_length_buckets" -> QueryDef(lengthBuckets, Some(lengthBucketsSql)),
    "qc05_alignment_filter" -> QueryDef(alignmentFilter,
      Some(alignmentFilterSql)),
    "qc03_curriculum" -> QueryDef(curriculum, Some(curriculumSql),
      bench = true),
    "st07_stream_kmv" -> QueryDef(streamKmv, Some(streamKmvSql),
      bench = true),
    "qc02_temperature_mix" -> QueryDef(temperatureMix, Some(temperatureMixSql)),
    "qc08_token_budget_mix" -> QueryDef(tokenBudgetMix,
      Some(tokenBudgetMixSql)),
    "qc09_budget_funnel" -> QueryDef(budgetFunnel,
      Some(budgetFunnelSql)),
    "st06_stream_decontam" -> QueryDef(streamDecontam, Some(decontamSql)),
    "st05_stream_mix" -> QueryDef(streamMix, Some(mixSampleSql)),
    "qc01_mix_sample" -> QueryDef(mixSample, Some(mixSampleSql)),
    "qd11_decontam" -> QueryDef(decontam, Some(decontamSql)),
    "qd12_dup_spans" -> QueryDef(dupSpans, Some(dupSpansSql), bench = true),
    "qd21_span_scrub" -> QueryDef(spanScrub, Some(spanScrubSql),
      bench = true),
    "qd25_span_scrub_runs" -> QueryDef(spanScrubRuns,
      Some(spanScrubRunsSql), bench = true),
    "qd29_exact_substr" -> QueryDef(substringMatches,
      Some(substringMatchesSql), bench = true),
    // bench: qd30 is the linear production posture of the substring
    // tier (the round-17 sf10 ring caught qd29's pair output at d² —
    // 125 GB spill; segments are the mm30-style termination)
    "qd30_substr_repeats" -> QueryDef(substrRepeatSegments,
      Some(substrRepeatSegmentsSql), bench = true),
    "qs05_semdedup" -> QueryDef(semDedup, Some(semDedupSql)),
  )
}
