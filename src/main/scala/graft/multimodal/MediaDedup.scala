package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** one (item, shingle) row of the streaming near-dup stage */
final case class MediaShingleRow(media_id: Long, take: Int, sh: String)

/** streaming verdict: the shingle bucket's first-arrival owner */
final case class MediaVerdict(media_id: Long, take: Int,
    owner_id: Long, owner_take: Int)

/** Near-duplicate detection over OPAQUE MEDIA COLUMNS — the mm27/mm28/
  * mm29 spine as a reusable operator, the media analog of the text
  * n-gram/MinHash tier (`queries/DedupQueries`). A user points it at a
  * frame of `(media_id, take, content)` rows plus a task-local
  * fingerprint function (decode → per-unit fingerprint strings: one
  * per video frame, audio window, …) and gets verified near-dup pairs
  * with exact shingle-set Jaccard.
  *
  * Pipeline: per row, `fingerprint(content)` runs task-locally (the
  * expensive decode never leaves the task), consecutive `window`-grams
  * of fingerprints are md5-shingled, and the tiny distinct
  * `(media_id, take, shingle, set_size)` relation is STAGED to
  * `stageDir` as parquet before the self-join fan-out. The stage is
  * deliberate, not an optimization afterthought:
  *
  *  - the decode subtree evaluates exactly ONCE per row — a naive
  *    self-join would re-run it per join branch (Spark's
  *    ReuseExchange cannot help when the UDF sits above the exchange);
  *  - at cluster scale it is a fault-tolerant checkpoint: losing an
  *    executor mid-join re-reads KBs of hashes, never re-decodes media;
  *  - the shingle-set SIZE rides along from the fingerprint pass (the
  *    set is task-local), so the Jaccard denominators need no extra
  *    groupBy or join.
  *
  * Candidates come from shingle-hash bucket equality (banded-LSH
  * shape): only `(media_id, take, hash)` rows ever cross an exchange —
  * frames and samples never move — and the join is hash-bucketed,
  * never all-pairs over media. Pair output is inherently quadratic in
  * cluster size; a corpus-scale job terminates into the qd09
  * connected-components shape instead of materializing pairs
  * (SCALE.md).
  *
  * The caller controls partitioning: repartition the id spine BEFORE
  * synthesizing/attaching content (compute-bound decode wants
  * defaultParallelism spread; see mm22's measured 10×), and the
  * operator will not reshuffle content.
  *
  * Fingerprint choices define the dedup semantics, mirroring how qd05
  * SimHash complements qd02 MinHash for text:
  *  - exact per-frame fingerprints (mm27) find re-muxes and trims;
  *  - perceptual aHash bits (mm28) additionally survive re-encodes;
  *  - sign-structure bits over PCM (mm29) survive gain rescaling and
  *    lossless transcodes.
  */
object MediaDedup {

  private[graft] def md5Hex(t: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  /** content → distinct (shingle-hash, set-size) pairs; the task-local
    * decode+shingle pass shared by the batch and streaming stages */
  private def shingleSetUdf(fingerprint: Array[Byte] => IndexedSeq[String],
      window: Int, skipCorrupt: Boolean)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    require(window >= 1, "window must be >= 1")
    udf { (content: Array[Byte]) =>
      val fp =
        if (!skipCorrupt) fingerprint(content)
        else try fingerprint(content) catch {
          case scala.util.control.NonFatal(_) => IndexedSeq.empty[String]
        }
      val sh = (0 to fp.length - window)
        .map(t => (t until t + window).map(fp).mkString("|"))
        .map(md5Hex).distinct
      sh.map(h => (h, sh.size))
    }
  }

  /** STREAMING near-dup verdicts — the st09 first-arrival contract
    * over media: arriving items are fingerprinted and shingled
    * in-stream (the same task-local pass as [[shingleNearDup]]); each
    * shingle hash holds ONE composite key of keyed state — the
    * bucket's FIRST-arrival owner, never replaced — so state is
    * bounded by distinct shingles, never corpus size, and a
    * micro-batch's work is its own items only (the standing corpus is
    * never re-decoded). Emits one verdict per (item, shingle); the
    * per-item reduction with its exact-Jaccard refinement is the
    * shipped [[compactVerdicts]] batch compaction over the sink
    * (st13 gates the composition). Multi-epoch semantics are
    * first-arrival: an early original is never retroactively
    * re-labeled, and a LATER smaller key is flagged dup against the
    * standing owner rather than silently becoming a second original
    * (MediaDedupSpec pins the exact arrival-order replay). */
  def streamingNearDupVerdicts(media: DataFrame,
      fingerprint: Array[Byte] => IndexedSeq[String], window: Int = 3,
      skipCorrupt: Boolean = false): Dataset[MediaVerdict] = {
    import media.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val shingleUdf = shingleSetUdf(fingerprint, window, skipCorrupt)
    media
      .select(col("media_id"), col("take"),
        explode(shingleUdf(col("content"))).as("e"))
      .select(col("media_id"), col("take"), col("e._1").as("sh"))
      .as[MediaShingleRow]
      .groupByKey(_.sh)
      .flatMapGroupsWithState[(Long, Int), MediaVerdict](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, rows, state) =>
          val keys = rows.map(r => (r.media_id, r.take)).toVector
          val owner = state.getOption.getOrElse(keys.min)
          if (state.getOption.isEmpty) state.update(owner)
          keys.iterator.map(k =>
            MediaVerdict(k._1, k._2, owner._1, owner._2))
      }
  }

  /** Batch compaction of [[streamingNearDupVerdicts]]'s sink — the
    * per-item reduction plus the exact-Jaccard refinement, as code:
    * per item, its candidate partners are the foreign first-arrival
    * owners of its shingle buckets; each candidate is verified by
    * exact shingle-set Jaccard against the staged hash relation
    * ([[stageShingles]] over the same corpus — only hashes join, the
    * media never re-decodes); the item's partner is its MINIMUM
    * qualifying owner, or itself (is_dup = 0) when no owner survives
    * the threshold. Bucket co-occurrence alone is the LSH candidate
    * signal, not the dedup verdict — without this refinement a single
    * chance shingle collision would mark an item dup; with it the
    * streaming path lands on the same verified-Jaccard keep-list the
    * batch operator produces (MediaDedupSpec pins the equality,
    * including a candidate that shares a bucket but fails Jaccard).
    * Output: one row per item that emitted ≥1 shingle —
    * `(media_id, take, partner_id, partner_take, is_dup)`. */
  def compactVerdicts(verdicts: DataFrame, staged: DataFrame,
      thresholdPpm: Long = 400000L): DataFrame = {
    // Candidate (item, owner) pairs are few — one per foreign shingle
    // bucket — and both prefilters and the verify join read them:
    // materialized, so the verdict-distinct subtree runs once.
    val cand = graft.Materialize(verdicts
      .where(col("media_id") =!= col("owner_id") ||
        col("take") =!= col("owner_take"))
      .select(col("media_id"), col("take"),
        col("owner_id"), col("owner_take"))
      .distinct())
    // guide §3.2, BOTH sides: only candidate items and owners can
    // match. Result-identical: a semi join only removes rows with no
    // partner.
    val itemKeys = cand.select(col("media_id"), col("take")).distinct()
    val a = staged.join(itemKeys, Seq("media_id", "take"), "left_semi")
      .select(col("media_id"), col("take"), col("sh"),
        col("n_sh").as("a_n"))
    val owners = cand.select(col("owner_id"), col("owner_take"))
      .distinct()
    val b = staged.join(owners,
        staged("media_id") === owners("owner_id") &&
          staged("take") === owners("owner_take"), "left_semi")
      .select(col("media_id").as("owner_id"),
        col("take").as("owner_take"), col("sh"), col("n_sh").as("b_n"))
    val qualified = cand
      .join(a, Seq("media_id", "take"))
      .join(b, Seq("owner_id", "owner_take", "sh"))
      .groupBy(col("media_id"), col("take"),
        col("owner_id"), col("owner_take"))
      .agg(count(lit(1)).as("shared"),
        max(col("a_n")).as("a_n"), max(col("b_n")).as("b_n"))
      .where(floor(lit(1000000L) * col("shared") /
        (col("a_n") + col("b_n") - col("shared"))) >= thresholdPpm)
      .groupBy(col("media_id"), col("take"))
      .agg(min(struct(col("owner_id"), col("owner_take"))).as("o"))
      // fresh attribute ids on the join keys: the item spine below is
      // the SAME verdicts relation, and Spark rejects a self-join on
      // shared references
      .select(col("media_id").as("q_id"), col("take").as("q_take"),
        col("o"))
    val items = verdicts.select(col("media_id"), col("take")).distinct()
    items
      .join(qualified, items("media_id") === qualified("q_id") &&
        items("take") === qualified("q_take"), "left")
      .select(col("media_id"), col("take"),
        coalesce(col("o.owner_id"), col("media_id")).as("partner_id"),
        coalesce(col("o.owner_take"), col("take")).as("partner_take"),
        when(col("o").isNotNull, 1).otherwise(0).as("is_dup"))
      .orderBy(col("media_id"), col("take"))
  }

  /** Verified near-dup pairs `(a_id, a_take, b_id, b_take, shared,
    * union_n, jaccard_ppm)` over `media(media_id, take, content)`,
    * thresholded at `thresholdPpm` exact shingle-set Jaccard.
    *
    * `skipCorrupt`: at corpus scale some media rows WILL be truncated
    * or mis-muxed, and one bad row must not kill a multi-hour job.
    * With `skipCorrupt = true` a fingerprint failure (decode error,
    * unsupported codec, …) contributes NO shingles: the item pairs
    * with nothing and [[nearDupClusters]] reports it as a singleton —
    * the conservative dedup answer (never deleted as someone's
    * duplicate). The default stays fail-fast, matching the wds
    * `reraise` handler policy; pass true for the `warnAndContinue`
    * posture. */
  /** The staged `(media_id, take, sh, n_sh)` hash relation shared by
    * the batch join ([[shingleNearDup]]) and the streaming-sink
    * refinement ([[compactVerdicts]]): fingerprint+shingle runs
    * task-locally exactly once, the distinct hash rows checkpoint to
    * `stageDir`, and key consistency is asserted before anything joins
    * against it. */
  def stageShingles(media: DataFrame, stageDir: String,
      fingerprint: Array[Byte] => IndexedSeq[String],
      window: Int = 3, skipCorrupt: Boolean = false): DataFrame =
    stageShinglesWithStats(media, stageDir, fingerprint, window,
      skipCorrupt)._1

  /** [[stageShingles]] plus the collapse-gate statistic (saved
    * pre-aggregation rows, see [[pairsMaybeCollapsed]]) computed in
    * the SAME per-take aggregation pass as the key-consistency check —
    * one scan of the staged relation instead of two, so the gate costs
    * the single-join arm nothing (the r16 mm31 radar stamp was exactly
    * the second scan's cost at sf0.1). */
  private[multimodal] def stageShinglesWithStats(media: DataFrame,
      stageDir: String, fingerprint: Array[Byte] => IndexedSeq[String],
      window: Int = 3, skipCorrupt: Boolean = false)
      : (DataFrame, Double) = {
    val shingleUdf = shingleSetUdf(fingerprint, window, skipCorrupt)
    media
      .select(col("media_id"), col("take"),
        explode(shingleUdf(col("content"))).as("e"))
      .select(col("media_id"), col("take"), col("e._1").as("sh"),
        col("e._2").as("n_sh"))
      // replayed/duplicated input rows (common in at-least-once
      // ingest) would double `shared` while a_n/b_n stay fixed,
      // corrupting the Jaccard (even past 1.0) — distinct over the
      // tiny hash relation heals exact-duplicate rows for free.
      // Same-key rows with DIFFERENT content remain an ingest bug to
      // fail loudly on upstream (the CurateStage doc_id contract).
      .distinct()
      .write.mode("overwrite").parquet(stageDir)
    val sigs = media.sparkSession.read.parquet(stageDir)
    // same-key rows with DIFFERENT content are an ingest contract
    // violation — their shingles would union while max(n) picks one
    // row's set size, pushing `shared` past the denominators and the
    // Jaccard silently past 1.0. Fail loudly instead: a consistent key
    // has exactly one n_sh and exactly n_sh distinct staged shingles.
    // The same pass carries the signature-class accumulators so the
    // collapse-gate statistic falls out of a second-level aggregate
    // over this take-sized frame (persisted: it is one row per take).
    // ONE action computes both the key-consistency verdict and the
    // collapse-gate statistic (r17 optimization: the two-action
    // spelling persisted the per-take frame and paid a separate
    // badKey head job per staging pass — on the healthy path, which is
    // every healthy corpus, the example-key lookup below never runs)
    val perTake = sigs.groupBy(col("media_id"), col("take"))
      .agg(count(lit(1)).as("rows"),
        min(col("n_sh")).as("lo"), max(col("n_sh")).as("hi"),
        expr("bit_xor(xxhash64(sh))").as("x1"),
        expr("bit_xor(xxhash64(sh, 2))").as("x2"))
    val agg = perTake
      .select(struct(col("rows").as("n"), col("x1"), col("x2")).as("sig"),
        col("hi"),
        (col("lo") =!= col("hi") || col("rows") =!= col("lo")).as("bad"))
      .groupBy(col("sig"))
      .agg(count(lit(1)).as("c"), max(col("hi")).as("m"),
        max(col("bad")).as("any_bad"))
      .agg(coalesce(sum(
        (col("c").cast("double") * col("c") - col("c")) * col("m")),
        lit(0.0)).as("saved"),
        coalesce(max(col("any_bad")), lit(false)).as("bad"))
      .head()
    if (agg.getBoolean(1)) {
      // failure path only: re-derive one offending key for the message
      val badKey = perTake
        .where(col("lo") =!= col("hi") || col("rows") =!= col("lo"))
        .select(col("media_id"), col("take"))
        .head(1)
      require(badKey.isEmpty,
        s"duplicate (media_id, take) key with conflicting content: " +
          s"${badKey.mkString(", ")} — dedupe or re-key the input first")
    }
    (sigs, agg.getDouble(0))
  }

  /** The verified-pair join of [[shingleNearDup]] over an already-
    * staged `(media_id, take, sh, n_sh)` relation — factored out so
    * [[nearDupClusters]] can run it over signature-class
    * REPRESENTATIVES only. Unordered (callers sort or feed CC). */
  private[multimodal] def pairsFromSigs(sigs: DataFrame,
      thresholdPpm: Long): DataFrame = {
    val a = sigs.select(col("media_id").as("a_id"),
      col("take").as("a_take"), col("sh"), col("n_sh").as("a_n"))
    val b = sigs.select(col("media_id").as("b_id"),
      col("take").as("b_take"), col("sh"), col("n_sh").as("b_n"))
    a.join(b, "sh")
      .where(struct(col("a_id"), col("a_take")) <
        struct(col("b_id"), col("b_take")))
      .groupBy(col("a_id"), col("a_take"), col("b_id"), col("b_take"))
      .agg(count(lit(1)).as("shared"),
        max(col("a_n")).as("a_n"), max(col("b_n")).as("b_n"))
      .select(col("a_id"), col("a_take"), col("b_id"), col("b_take"),
        col("shared"),
        (col("a_n") + col("b_n") - col("shared")).as("union_n"),
        floor(lit(1000000L) * col("shared") /
          (col("a_n") + col("b_n") - col("shared"))).as("jaccard_ppm"))
      .where(col("jaccard_ppm") >= thresholdPpm)
  }

  /** [[pairsFromSigs]] with the EXACT-duplicate pre-collapse (round-16
    * decade ring: mm27/mm29 at sf10 hit the same identical-content-
    * class quadratic mm30 did — 136/122 GB of spill — because the
    * bucket join's pre-aggregation product is (class size)² × shingles
    * PER CLASS. Takes with identical shingle sets form a signature
    * class (same three commutative accumulators as the cluster-side
    * collapse); the bucket join + exact-Jaccard verification runs over
    * ONE representative per class, and verdicts EXPAND back to member
    * pairs. The pair OUTPUT is unchanged — and still inherently
    * quadratic in class size, which is why clusters (mm30) remain the
    * 100 TB termination — but the expansion is a cheap member × member
    * join producing exactly the output rows, with no per-shingle
    * blowup behind it. Result-identical because Jaccard depends only
    * on the two shingle SETS:
    *  - cross-class: every (m1 ∈ A, m2 ∈ B) pair has the sets of
    *    (rep A, rep B), so the rep pair's shared/union/jaccard and its
    *    threshold verdict are every member pair's;
    *  - within-class: shared = union = n_sh and jaccard exactly 1e6
    *    ppm, which passes any legal threshold (≤ 1e6) — emitted
    *    closed-form, no join against the shingle relation at all.
    * The same adaptive gate as the cluster side keeps the single-join
    * plan when no duplicate class exists (all-distinct corpora — the
    * sf0.1 gate and most healthy corpora — pay one tiny aggregate). */
  /** Collapse pays only when the ABSOLUTE bucket-join work it avoids
    * — saved pre-aggregation rows Σ_class (c² − c) · n_sh, the rows
    * the single join would fan out beyond what one representative per
    * class costs — exceeds the collapse machinery's fixed overhead
    * (~6 extra serial AQE stages + passes over the hash relation).
    * Measured A/B (SCALE.md): at sf0.1 mm28's
    * fan-out-11 classes save only ~0.7 M rows and single join is 2×
    * FASTER (1.86 vs 3.84 s); mm27 at sf1 saves ~23 M and single
    * still wins (3.9 vs 6.0 s); mm27/mm29 at sf10 save ~2.7 G rows
    * and the single join spills 136/122 GB while collapse runs
    * spill-free 3.3-4.7× faster. 64 M sits between the measured
    * crossover points. A RATIO gate (fan-out alone) mispredicts both
    * ends — mm31's size-2 classes regressed under collapse, and a
    * small corpus with fan-out 11 still prefers single join — because
    * the overhead is fixed while the saving scales with corpus size. */
  private val CollapseSavedRowsGate = 64000000.0

  private[multimodal] def pairsMaybeCollapsed(sigs: DataFrame,
      thresholdPpm: Long,
      collapseGate: Double = CollapseSavedRowsGate,
      savedRows: Option[Double] = None): DataFrame = {
    // saved rows in DOUBLE: c² · n_sh can reach 1e15 per class and a
    // pathological sum would overflow (ANSI throws); the gate needs
    // magnitude, not exactness. Callers that staged the relation get
    // the statistic free from the staging pass (savedRows); the
    // standalone spelling computes it here.
    val saved = savedRows.getOrElse {
      sigs.groupBy(col("media_id"), col("take"))
        .agg(struct(count(lit(1)).as("n"),
          expr("bit_xor(xxhash64(sh))").as("x1"),
          expr("bit_xor(xxhash64(sh, 2))").as("x2")).as("sig"),
          max(col("n_sh")).as("n_sh"))
        .groupBy(col("sig"))
        .agg(count(lit(1)).as("c"), max(col("n_sh")).as("m"))
        .agg(coalesce(sum(
          (col("c").cast("double") * col("c") - col("c")) * col("m")),
          lit(0.0)).as("saved")).head().getDouble(0)
    }
    if (saved <= collapseGate)
      return pairsFromSigs(sigs, thresholdPpm)
    val sigClass = sigs.groupBy(col("media_id"), col("take"))
      .agg(struct(count(lit(1)).as("n"),
        expr("bit_xor(xxhash64(sh))").as("x1"),
        expr("bit_xor(xxhash64(sh, 2))").as("x2")).as("sig"),
        max(col("n_sh")).as("n_sh"))
    val reps = sigClass.groupBy(col("sig"))
      .agg(min(struct(col("media_id"), col("take"))).as("rep"))
    val members = sigClass.join(reps, "sig")
      .select(col("sig"),
        col("rep.media_id").as("r_id"), col("rep.take").as("r_take"),
        struct(col("media_id"), col("take")).as("k"), col("n_sh"))
    val repSigs = sigs.join(
      reps.select(col("rep.media_id").as("media_id"),
        col("rep.take").as("take")),
      Seq("media_id", "take"))
    val repPairs = pairsFromSigs(repSigs, thresholdPpm)
    // cross-class: the rep pair's verdict + stats transfer to every
    // member pair; member keys re-canonicalize (a member of the
    // a-side class can sort above a member of the b-side class)
    val cross = repPairs
      .join(members.select(col("r_id").as("a_id"),
        col("r_take").as("a_take"), col("k").as("ka")),
        Seq("a_id", "a_take"))
      .join(members.select(col("r_id").as("b_id"),
        col("r_take").as("b_take"), col("k").as("kb")),
        Seq("b_id", "b_take"))
      .select(least(col("ka"), col("kb")).as("ak"),
        greatest(col("ka"), col("kb")).as("bk"),
        col("shared"), col("union_n"), col("jaccard_ppm"))
    // within-class: closed-form — identical sets share everything
    val within = members.as("m1")
      .join(members.as("m2"), col("m1.sig") === col("m2.sig"))
      .where(col("m1.k") < col("m2.k"))
      .select(col("m1.k").as("ak"), col("m2.k").as("bk"),
        col("m1.n_sh").cast("long").as("shared"),
        col("m1.n_sh").cast("long").as("union_n"),
        lit(1000000L).as("jaccard_ppm"))
      .where(lit(1000000L) >= lit(thresholdPpm))
    cross.unionByName(within)
      .select(col("ak.media_id").as("a_id"), col("ak.take").as("a_take"),
        col("bk.media_id").as("b_id"), col("bk.take").as("b_take"),
        col("shared"), col("union_n"), col("jaccard_ppm"))
  }

  def shingleNearDup(media: DataFrame, stageDir: String,
      fingerprint: Array[Byte] => IndexedSeq[String],
      window: Int = 3, thresholdPpm: Long = 400000L,
      skipCorrupt: Boolean = false): DataFrame = {
    val (sigs, saved) = stageShinglesWithStats(media, stageDir,
      fingerprint, window, skipCorrupt)
    pairsMaybeCollapsed(sigs, thresholdPpm, savedRows = Some(saved))
      .orderBy(col("a_id"), col("a_take"), col("b_id"), col("b_take"))
  }

  /** Corpus-scale termination of [[shingleNearDup]]: the pair list is
    * inherently quadratic in cluster size, so a 100 TB dedup job
    * collapses verified pairs into duplicate CLUSTERS and keeps one
    * survivor per cluster — the same shape the text tier lands on
    * (qd09; SCALE.md "pair output is inherently quadratic"). Pairwise
    * keep-lists over-delete on transitive chains a–b, b–c; components
    * give the correct one-survivor-per-cluster answer via the shared
    * checkpointed min-label loop
    * ([[graft.functions.ConnectedComponents]], composite
    * `(media_id, take)` struct labels). Returns one row per media
    * take: `(media_id, take, cluster_id, cluster_take, survivor)`
    * where the cluster key is its minimum member and takes with no
    * near-dup pair form singleton clusters. */
  def nearDupClusters(media: DataFrame, stageDir: String,
      fingerprint: Array[Byte] => IndexedSeq[String],
      window: Int = 3, thresholdPpm: Long = 400000L,
      maxIters: Int = 50, skipCorrupt: Boolean = false): DataFrame = {
    def key(id: Column, take: Column): Column =
      struct(id.as("media_id"), take.as("take"))
    // Threshold > 1e6 ppm: no pair can verify (identical sets score
    // exactly 1e6), so the result is all-singleton clusters. Preserve
    // that sentinel semantics — callers may use it to mean "nothing
    // clusters" — instead of throwing; it also keeps the exact-dup
    // pre-collapse below lossless (its star edges verify at 1e6).
    // The sentinel still runs the SAME staging pass as the normal arm
    // (r16 ADVICE): skipping it made the two arms disagree on error
    // behavior — a corrupt take under skipCorrupt=false, or a
    // duplicate (media_id, take) key with conflicting content, throws
    // from the normal arm's staging contract but sailed through the
    // old short-circuit as a silent singleton. Both arms now decode
    // through the identical contract (and leave the same stageDir
    // side effect); the vertex spine is the identical media-keys
    // derivation, so the output key sets agree by construction.
    if (thresholdPpm > 1000000L) {
      // staging is eager (parquet write + key-consistency require) —
      // the call alone enforces the contract
      stageShingles(media, stageDir, fingerprint, window, skipCorrupt)
      return media
        .select(col("media_id"), col("take")).distinct()
        .select(col("media_id"), col("take"),
          col("media_id").as("cluster_id"),
          col("take").as("cluster_take"), lit(true).as("survivor"))
        .orderBy(col("media_id"), col("take"))
    }
    val sigs = stageShingles(media, stageDir, fingerprint, window,
      skipCorrupt)
    // EXACT-duplicate pre-collapse (round-15 decade ring: the sf10
    // fixture's identical-content classes of ~56 takes drove the
    // verified-pair join to 39 GB of shuffle / 290 GB of spill —
    // re-uploaded byte-identical media is the most common corpus
    // shape, and all-pairs within a class is pure waste). Takes with
    // IDENTICAL shingle sets form a signature class; the pairwise
    // join runs over one REPRESENTATIVE per class and classes wire up
    // internally as a star. The cluster result is PROVABLY identical:
    //  - within a class every pair has Jaccard exactly 1e6 ppm ≥ any
    //    legal threshold, so the star edges are verified pairs of the
    //    original graph and connect the class exactly as all-pairs
    //    would;
    //  - across classes jaccard(x, y) depends only on the two shingle
    //    SETS, so the representative pair's verdict is every member
    //    pair's verdict, and rep–rep edges plus the stars reproduce
    //    the original connectivity (x–rx–ry–y);
    //  - the class key is (count, ⊕ xxhash64(sh), ⊕ xxhash64(sh, 2)) —
    //    three COMMUTATIVE 64-bit accumulators (xor cannot overflow
    //    under ANSI mode, unlike a Long sum), so the aggregate
    //    map-side combines (a sorted collect_list would push every
    //    shingle through the shuffle; these push three longs per key)
    //    and order-insensitivity is structural. A collision merges two
    //    classes — the same accepted posture as the staged md5 shingle
    //    hashes, at ~2^-128 per class pair (two independent seeds).
    // Cost: one combined aggregate + one join, linear; the quadratic
    // term drops from (class size)² to (distinct signatures sharing a
    // shingle)².
    val sigClass = sigs
      .groupBy(col("media_id"), col("take"))
      .agg(struct(count(lit(1)).as("n"),
        expr("bit_xor(xxhash64(sh))").as("x1"),
        expr("bit_xor(xxhash64(sh, 2))").as("x2")).as("sig"))
    // ADAPTIVE: the collapse machinery (reps, two joins, a star union
    // — several serial AQE stages) only pays for itself when exact-dup
    // classes EXIST. One cheap aggregate over the per-take signature
    // frame decides; a corpus of all-distinct takes (the sf0.1 gate,
    // most healthy corpora) keeps the original single-join plan. The
    // branch is a pure function of the input, and both arms produce
    // the same clusters (the equivalence law above — spec-pinned).
    val cnt = sigClass.agg(count(lit(1)).as("n"),
      count_distinct(col("sig")).as("d")).head()
    val edges = if (cnt.getLong(0) == cnt.getLong(1)) {
      pairsFromSigs(sigs, thresholdPpm).select(
        key(col("a_id"), col("a_take")).as("a_id"),
        key(col("b_id"), col("b_take")).as("b_id"))
    } else {
      val reps = sigClass.groupBy(col("sig"))
        .agg(min(struct(col("media_id"), col("take"))).as("rep"))
      val withRep = sigClass.join(reps, "sig")
      val starEdges = withRep
        .where(key(col("media_id"), col("take")) =!= col("rep"))
        .select(col("rep").as("a_id"),
          key(col("media_id"), col("take")).as("b_id"))
      val repSigs = sigs.join(
        reps.select(col("rep.media_id").as("media_id"),
          col("rep.take").as("take")),
        Seq("media_id", "take"))
      val repEdges = pairsFromSigs(repSigs, thresholdPpm).select(
        key(col("a_id"), col("a_take")).as("a_id"),
        key(col("b_id"), col("b_take")).as("b_id"))
      repEdges.unionByName(starEdges)
    }
    // content prunes away: only the (media_id, take) spine is scanned
    val vertices = media
      .select(key(col("media_id"), col("take")).as("id")).distinct()
    graft.functions.ConnectedComponents.run(edges, vertices, maxIters)
      .select(col("id.media_id").as("media_id"),
        col("id.take").as("take"),
        col("label.media_id").as("cluster_id"),
        col("label.take").as("cluster_take"))
      .withColumn("survivor",
        col("media_id") === col("cluster_id") &&
          col("take") === col("cluster_take"))
      .orderBy(col("media_id"), col("take"))
  }

  /** content → POSITIONAL (start-index, shingle-hash) rows — the
    * shingle pass of [[shingleNearDup]] keeping each window-gram's
    * display start index instead of collapsing to a distinct set;
    * what segment ALIGNMENT needs (a set can say "these two overlap",
    * a positional relation can say WHERE). */
  private def shinglePosUdf(
      fingerprint: Array[Byte] => IndexedSeq[String],
      window: Int, skipCorrupt: Boolean)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    require(window >= 1, "window must be >= 1")
    udf { (content: Array[Byte]) =>
      val fp =
        if (!skipCorrupt) fingerprint(content)
        else try fingerprint(content) catch {
          case scala.util.control.NonFatal(_) => IndexedSeq.empty[String]
        }
      val n = (fp.length - window + 1).max(0)
      (0 until n).map(t =>
        (t, md5Hex((t until t + window).map(fp).mkString("|")), n))
    }
  }

  /** Staged positional relation `(media_id, take, pos, sh)` — the
    * decode-once / checkpoint rationale of [[stageShingles]], with
    * positions kept. Repeated identical content (a held frame) emits
    * one row per POSITION, deliberately: alignment votes on offsets,
    * and collapsing repeats would silently drop their votes —
    * `distinct()` is still safe (and applied) because those rows
    * differ in `pos`; what it heals is at-least-once ingest REPLAYS
    * of the same media row, which would otherwise double every vote.
    * Same-key rows with DIFFERENT content (two shingles at one
    * position) are the ingest contract violation [[stageShingles]]
    * rejects, and are rejected here the same way. */
  def stagePositionalShingles(media: DataFrame, stageDir: String,
      fingerprint: Array[Byte] => IndexedSeq[String],
      window: Int = 3, skipCorrupt: Boolean = false): DataFrame = {
    val u = shinglePosUdf(fingerprint, window, skipCorrupt)
    media
      .select(col("media_id"), col("take"),
        explode(u(col("content"))).as("e"))
      .select(col("media_id"), col("take"),
        col("e._1").as("pos"), col("e._2").as("sh"),
        col("e._3").as("n_pos"))
      .distinct()
      .write.mode("overwrite").parquet(stageDir)
    val staged = media.sparkSession.read.parquet(stageDir)
    // the stageShingles consistency contract, positional form: one
    // n_pos per key and exactly n_pos distinct staged rows — catches
    // both a two-shingles-at-one-position conflict AND a silent
    // suffix-extension merge (same prefix, more frames: rows == the
    // longer n while n_pos values disagree)
    val badKey = staged.groupBy(col("media_id"), col("take"))
      .agg(count(lit(1)).as("rows"),
        min(col("n_pos")).as("lo"), max(col("n_pos")).as("hi"))
      .where(col("lo") =!= col("hi") || col("rows") =!= col("lo"))
      .select(col("media_id"), col("take"))
      .head(1)
    require(badKey.isEmpty,
      s"duplicate (media_id, take) key with conflicting content: " +
        s"${badKey.mkString(", ")} — dedupe or re-key the input first")
    staged.drop("n_pos")
  }

  /** Duplicate-SEGMENT localization — [[shingleNearDup]] answers
    * "which media near-duplicate each other"; this answers WHERE: for
    * each candidate pair, every shared shingle hash casts a vote for
    * the temporal offset `a_pos - b_pos`, and the modal offset (ties →
    * smallest) wins — the classic alignment-by-offset-histogram of
    * audio/video fingerprinting (Shazam-style constellation voting,
    * reduced to 1-D time). Returns one row per pair with at least
    * `minSeg` votes at the modal offset: total matching shingles
    * `n_match`, the winning `offset`, its vote count `seg_len`, and
    * the matched span `[a_from, a_to]` in the a-side's display
    * positions — i.e. "frames a_from..a_to+window-1 of A reappear
    * offset frames later than B's".
    *
    * Scale shape identical to [[shingleNearDup]]: decode runs once
    * into the staged relation, only (id, take, pos, 16-byte hash)
    * rows cross exchanges, the join is hash-bucketed on the shingle,
    * and the vote histogram is a groupBy on (pair, offset) — never
    * all-pairs over media, never frames over the wire. */
  def dupSegmentAlign(media: DataFrame, stageDir: String,
      fingerprint: Array[Byte] => IndexedSeq[String],
      window: Int = 3, minSeg: Long = 2L,
      skipCorrupt: Boolean = false): DataFrame = {
    val pos = stagePositionalShingles(media, stageDir, fingerprint,
      window, skipCorrupt)
    val a = pos.select(col("media_id").as("a_id"),
      col("take").as("a_take"), col("pos").as("a_pos"), col("sh"))
    val b = pos.select(col("media_id").as("b_id"),
      col("take").as("b_take"), col("pos").as("b_pos"), col("sh"))
    val byOffset = a.join(b, "sh")
      .where(struct(col("a_id"), col("a_take")) <
        struct(col("b_id"), col("b_take")))
      .groupBy(col("a_id"), col("a_take"), col("b_id"), col("b_take"),
        (col("a_pos") - col("b_pos")).as("offset"))
      .agg(count(lit(1)).as("seg_len"),
        min(col("a_pos")).as("a_from"), max(col("a_pos")).as("a_to"))
    // argmax by (votes, then smallest offset): the struct max carries
    // the winner's span along — (seg_len, -offset) is unique per pair
    byOffset
      .groupBy(col("a_id"), col("a_take"), col("b_id"), col("b_take"))
      .agg(sum(col("seg_len")).as("n_match"),
        max(struct(col("seg_len"), (lit(0) - col("offset")).as("noff"),
          col("a_from"), col("a_to"))).as("best"))
      .where(col("best.seg_len") >= minSeg)
      .select(col("a_id"), col("a_take"), col("b_id"), col("b_take"),
        col("n_match"), (lit(0) - col("best.noff")).as("offset"),
        col("best.seg_len"), col("best.a_from"), col("best.a_to"))
      .orderBy(col("a_id"), col("a_take"), col("b_id"), col("b_take"))
  }

  /** Exact per-frame fingerprint for [[shingleNearDup]]: decode every
    * display frame through `src` and emit the per-channel pixel sums
    * as `r:g:b` strings — finds re-muxes and boundary trims (mm27). */
  def exactVideoFingerprint(src: graft.pack.FrameSource)
      : Array[Byte] => IndexedSeq[String] = { bytes =>
    val n = src.frameCount(bytes)
    (0 until n).map { f =>
      val img = src.frameImage(bytes, f)
      // channel-agnostic: decodeImage legitimately returns L (1) and
      // RGBA (4) layouts, not only RGB — sum per channel at the
      // image's own stride ("r:g:b" for RGB, one sum for gray)
      val ch = img.nChannels
      val sums = new Array[Long](ch)
      var i = 0
      while (i < img.data.length) {
        sums(i % ch) = sums(i % ch) + (img.data(i) & 0xff)
        i += 1
      }
      sums.mkString(":")
    }
  }

  /** Perceptual aHash fingerprint for [[shingleNearDup]]: per decoded
    * frame, one bit per cell of a `grid`×`grid` partition — is the
    * cell's r+g+b sum strictly brighter than the frame mean (exact
    * integer cross-multiplication, no floats)? Uniform requantization
    * moves absolute values but not the brighter-than-mean structure,
    * so the pattern survives re-encodes (mm28). */
  def perceptualVideoFingerprint(src: graft.pack.FrameSource,
      grid: Int = 8): Array[Byte] => IndexedSeq[String] = { bytes =>
    val n = src.frameCount(bytes)
    (0 until n).map(f => aHashBits(src.frameImage(bytes, f), grid))
  }

  /** Single-image perceptual fingerprint — the LAION-style image-dedup
    * staple, usable with `window = 1` where shingle-set Jaccard
    * degenerates to aHash bucket equality (mm31). Brightness shifts
    * and mild requantization preserve the brighter-than-mean pattern;
    * exact byte/pixel fingerprints would not. */
  def perceptualImageFingerprint(grid: Int = 8)
      : Array[Byte] => IndexedSeq[String] =
    bytes => IndexedSeq(
      aHashBits(graft.wds.Codecs.decodeImage(bytes), grid))

  /** one bit per grid cell: is the cell's summed-channel brightness
    * strictly above the frame mean (exact integer
    * cross-multiplication)? Channel-agnostic: works at the image's
    * own stride (RGB, RGBA, grayscale). */
  private def aHashBits(img: graft.wds.Codecs.ImageData,
      grid: Int): String = {
    val w = img.width
    val h = img.height
    val ch = img.nChannels
    val cells = new Array[Long](grid * grid)
    val cellPx = new Array[Long](grid * grid)
    var tot = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val i = (y * w + x) * ch
        var g3 = 0L
        var k = 0
        while (k < ch) { g3 += img.data(i + k) & 0xff; k += 1 }
        val c = (y * grid / h) * grid + (x * grid / w)
        cells(c) += g3
        cellPx(c) += 1
        tot += g3
        x += 1
      }
      y += 1
    }
    val sb = new java.lang.StringBuilder(grid * grid)
    var c = 0
    while (c < grid * grid) {
      // cells(c)/cellPx(c) > tot/(w*h), cross-multiplied exactly —
      // through a 128-bit product compare, because at gigapixel sizes
      // cells(c)·w·h can exceed 2^63 (cells ≤ px·765 for RGB) and a
      // silently-wrapped Long would flip fingerprint bits
      sb.append(
        if (cmpProducts(cells(c), w.toLong * h, tot, cellPx(c)) > 0) '1'
        else '0')
      c += 1
    }
    sb.toString
  }

  /** sign of a·b − c·d over NON-NEGATIVE Longs, exact at 128 bits
    * (Math.multiplyHigh for the high word, wrapping `*` for the low). */
  private[multimodal] def cmpProducts(
      a: Long, b: Long, c: Long, d: Long): Int = {
    require(a >= 0 && b >= 0 && c >= 0 && d >= 0, "negative operand")
    val hi1 = Math.multiplyHigh(a, b); val lo1 = a * b
    val hi2 = Math.multiplyHigh(c, d); val lo2 = c * d
    if (hi1 != hi2) java.lang.Long.compare(hi1, hi2)
    else java.lang.Long.compareUnsigned(lo1, lo2)
  }

  /** Gain-invariant audio fingerprint for [[shingleNearDup]]: decode
    * PCM (WAV or FLAC, sniffed from magic bytes) and emit each full
    * `window`-sample window's is-positive bit pattern — any positive
    * gain preserves every sign, so the fingerprint survives loudness
    * normalization and lossless transcodes (mm29). */
  def signPatternAudioFingerprint(window: Int = 50)
      : Array[Byte] => IndexedSeq[String] = { bytes =>
    val x: Array[Int] =
      if (bytes.length >= 4 && bytes(0) == 'f'.toByte &&
          bytes(1) == 'L'.toByte && bytes(2) == 'a'.toByte &&
          bytes(3) == 'C'.toByte) FlacCodec.decode(bytes).samples
      else WavCodec.decode(bytes).samples.map(_.toInt)
    (0 until x.length / window).map { w =>
      val sb = new java.lang.StringBuilder(window)
      var i = w * window
      while (i < w * window + window) {
        sb.append(if (x(i) > 0) '1' else '0'); i += 1
      }
      sb.toString
    }
  }
}
