package graft.curate

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** The user-facing curation stage: one pass over a raw document table
  * producing the curated training slice plus a per-stage audit frame —
  * the pipeline step a training-data team runs between crawl ingest and
  * packing (`Pipeline --stage curate`). The filters apply SEQUENTIALLY,
  * each over the previous stage's survivors (the production order, and
  * the semantics that make the stages compose):
  *
  *  1. quality  — C4/MassiveText heuristics on the RAW text (word count,
  *     mean word length band, boilerplate markers); null text drops
  *     here, so later stages never see it
  *  2. mix      — deterministic stratified sampling by language
  *     (md5-bucket vs dialed rates; CurationQueries.mixProjection)
  *  3. exact    — content-hash dedup among mix survivors, min doc_id
  *     survives (deduping after mix means a duplicate group keeps its
  *     lowest SURVIVING copy — flag-parallel dedup would silently lose
  *     groups whose canonical copy was mix-dropped)
  *  3b. near-dup (opt-in, `nearDupJaccard`) — MinHash/LSH candidates →
  *     exact n-gram Jaccard verify → connected components; one survivor
  *     (min doc_id) per near-dup cluster among exact-dedup survivors.
  *     With `softDedup` the cluster members are KEPT instead and the
  *     curated output gains `weight_ppm` = 1e6 div |cluster| — the
  *     SoftDeDup/D4 re-weighting posture (qd23): hard dedup discards
  *     paraphrase-adjacent coverage, soft dedup keeps it but makes
  *     each cluster contribute ~one document per sampling epoch
  *  3c. containment (opt-in, `containmentTau`) — the qd24 policy:
  *     near-dup survivors that are near-CONTAINED in a larger survivor
  *     (excerpts/quotes) drop; maximal documents keep
  *  4. spans    — duplicated-span fraction (Lee et al. 2022 signal at
  *     n-gram grain) over the exact-deduped survivors — computed after
  *     exact dedup so a verbatim duplicate pair reads as ONE document
  *     (flag-parallel span counting marks both copies 100% duplicated
  *     and deletes the content entirely)
  *  4b. span scrub (opt-in, `spanScrub`) — rewrite survivors' text by
  *     CUTTING every token covered by a cross-document duplicated gram
  *     (the qd21 operator): the filter above drops catastrophically
  *     duplicated docs, the scrub cleans the duplicated spans out of
  *     the rest; original casing is preserved, matching is case-folded
  *  5. decontam — optional n-gram overlap scrub against a held-out eval
  *     table (broadcast: eval sets are MBs against TB corpora); the
  *     eval parquet only needs a `text` column
  *
  * The audit frame reports the funnel: input count and survivors after
  * each stage. All decisions are deterministic (hash-derived,
  * engine-order independent), so a re-run over the same inputs
  * reproduces the same slice — the property that makes a 100 TB
  * curation job resumable and its output diffable.
  *
  * Precondition: `doc_id` must be unique (it is the join/dedup key);
  * duplicate ids should be resolved upstream (they usually indicate an
  * ingest bug worth failing loudly on, not masking).
  *
  * `run` builds the funnel as one plan with one cache, the flag frame,
  * materialized by one action whose observed aggregate IS the stats
  * frame; the flag frame is released when that action fails. The
  * opt-in near-dup stage snapshots its input with
  * [[graft.Materialize]] instead, because its verify and connected
  * components run their own jobs over it. The returned frames are
  * plain projections of the persisted flags — call
  * [[CurateResult.close]] when done with them.
  */
object CurateStage {

  final case class CurateOptions(
      minWords: Int = 30,
      maxDupFrac: Double = 0.5,
      rates: Seq[(String, Int)] = Seq.empty,
      defaultRate: Int = 100,
      gramK: Int = 5,
      evalPath: Option[String] = None,
      nearDupJaccard: Option[Double] = None,
      // qd27: opt-in LSH bucket-size ceiling for the near-dup stage —
      // a corpus-hot candidate bucket (boilerplate family) is
      // quadratic in the corpus; past the cap it is dropped whole
      // (members still pair via their selective bands)
      lshBucketCap: Option[Int] = None,
      spanScrub: Boolean = false,
      // ExactSubstr fidelity (Lee et al. 2022): scrub only maximal
      // duplicated runs ≥ scrubMinRun tokens (1 = cut every covered
      // token, the historical qd21 posture), and ignore grams in more
      // than scrubDfCeil documents (corpus-common idioms can't
      // evidence duplication — also the positional fan-out bound)
      scrubMinRun: Int = 1,
      scrubDfCeil: Option[Int] = None,
      softDedup: Boolean = false,
      containmentTau: Option[Double] = None,
      // qd26: sketch-side df ceiling for the containment stage (a
      // shingle in more documents than this cannot evidence subset
      // duplication — and bounds the candidate fan-out at corpus scale)
      containmentDfCeil: Option[Int] = None,
      // qc08: final token-budget selection — B = (survivor tokens) div
      // this, per-source quota floor(B·√mass/Σ√mass), filled by the
      // greedy md5-ordered prefix. Input then needs a `source` column;
      // token counts read the FINAL text (post-scrub when --span-scrub
      // is on), the mass a training run would actually ingest
      tokenBudgetDiv: Option[Int] = None)

  final case class CurateResult(curated: DataFrame, stats: DataFrame,
      private[curate] val cached: DataFrame) {
    // blocking: a caller that immediately re-runs the funnel (bench
    // reps, retry loops) must not race its fresh persists against the
    // previous run's async block eviction
    def close(): Unit = { cached.unpersist(blocking = true): Unit }
  }

  /** Words of a text split on ' ': its spaces + 1, which is what
    * `size(split(text, " "))` counts, without building the words.
    * Null for a null text. */
  private[curate] def wordCount(text: Column): Column =
    octet_length(text) - octet_length(replace(text, lit(" "), lit(""))) + 1

  /** Raw-text C4 keep flag (the qt09 heuristics minus the fixture's
    * synthetic punctuation axes, which real corpora carry natively).
    * Null text yields null comparisons → otherwise(0): dropped. */
  private def qualityKeep(minWords: Int): Column = {
    val nWords = wordCount(col("text"))
    val meanLen = (length(col("text")) - (nWords - 1)).cast("double") / nWords
    val hasBad = lower(col("text")).contains("lorem ipsum") ||
      col("text").contains("{") || lower(col("text")).contains("javascript")
    when(nWords >= minWords && meanLen >= 3.0 && meanLen <= 10.0 && !hasBad,
      1).otherwise(0)
  }

  /** Sets `keep` for the survivors of stage `prev`: a document `prev`
    * dropped stays 0; a survivor takes `stage`'s flag, or `missing`
    * when `stage` has no row for it. A stage that is off carries
    * `prev` through unchanged. */
  private def gate(flags: DataFrame, prev: String, keep: String,
      stage: Option[DataFrame], missing: Int): DataFrame =
    stage.fold(flags.withColumn(keep, col(prev)))(k =>
      flags.join(k, Seq("doc_id"), "left")
        .withColumn(keep, when(col(prev) === 1,
          coalesce(col(keep), lit(missing))).otherwise(0)))

  /** Sequential funnel; input needs (doc_id, text, lang), extra columns
    * pass through to the curated output. */
  def run(docs: DataFrame, opts: CurateOptions): CurateResult = {
    require(!opts.softDedup || opts.nearDupJaccard.nonEmpty,
      "softDedup re-weights near-dup clusters — it needs nearDupJaccard")
    // the soft-dedup + containment combination is rejected: a weighted
    // member could be the container of its own representative — the
    // interaction needs its own design, not a silent guess
    require(!(opts.softDedup && opts.containmentTau.nonEmpty),
      "softDedup + containmentTau is unsupported: containment would " +
        "drop into clusters soft dedup re-weighted")
    require(opts.tokenBudgetDiv.isEmpty || docs.columns.contains("source"),
      "tokenBudgetDiv needs a `source` column on the input")
    val (flags, weightsOpt) = funnel(docs, opts)
    val all = flags.withColumn("curated", col("budget_keep"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // The one action: materialize the flag frame with the
      // audit-funnel aggregate observed on the same job, so the stats
      // cost no second pass over the flag table.
      val statsObs = Observation()
      // a NULL source would silently vanish in the quota joins (Spark
      // joins never match NULL keys) — counted on the same job, failed
      // loudly below
      val nullSource = opts.tokenBudgetDiv.map(_ =>
        count(when(col("decontam_keep") === 1 && col("source").isNull, 1))
          .as("null_source"))
      all.observe(statsObs,
        count(lit(1)).as("n_docs"),
        (Keeps.map(k => sum(col(k)).as(k)) ++ nullSource :+
          sum(col("curated")).as("n_curated")): _*)
        .count(): Unit
      val got = statsObs.get
      require(nullSource.isEmpty || got("null_source") == 0L,
        "tokenBudgetDiv: input has survivors with NULL source")

      val curatedBase = all.filter(col("curated") === 1)
        .drop(Keeps :+ "curated": _*)
      // soft-dedup mode: attach the per-doc sampling weight (1e6 for
      // singletons; every curated doc passed the near-dup stage, so the
      // left join always hits — coalesce guards regardless)
      val curated = weightsOpt.fold(curatedBase)(wf =>
        curatedBase.join(wf, Seq("doc_id"), "left")
          .withColumn("weight_ppm",
            coalesce(col("weight_ppm"), lit(1000000L))))
      // the observed metrics ARE the stats aggregate — surface them as
      // the same one-row frame the `all.agg(...)` spelling produced
      // (schema and null-on-empty behavior identical)
      val statNames = "n_docs" +: Keeps :+ "n_curated"
      val stats = docs.sparkSession.createDataFrame(
        java.util.List.of(Row.fromSeq(statNames.map(got(_)))),
        StructType(statNames.map(StructField(_, LongType))))
      CurateResult(curated, stats, all)
    } catch { case e: Throwable =>
      all.unpersist(blocking = true) // as in close()
      throw e
    }
  }

  private val Keeps = Seq("quality_keep", "mix_keep", "exact_keep",
    "near_keep", "cont_keep", "span_keep", "decontam_keep", "budget_keep")

  /** The funnel's flag frame (input columns plus every `Keeps` flag, text
    * scrubbed when `spanScrub` is on) and, in soft mode, the per-doc
    * `weight_ppm` frame. Unmaterialized; the opt-in stages snapshot
    * what they read several times with [[graft.Materialize]]. */
  private def funnel(docs: DataFrame, opts: CurateOptions)
      : (DataFrame, Option[DataFrame]) = {
    val withQ = docs.withColumn("quality_keep", qualityKeep(opts.minWords))

    // mix is a row-local decision (md5-bucket vs dialed rate) — the
    // flag is computed inline; the historical projection-plus-join
    // spelling paid one whole exchange to re-attach a value derivable
    // from the row itself (guide §2.4: remove shuffles outright). The
    // predicate is shared with CurationQueries.mixProjection, so the
    // batch gate (qc01), the streaming gate (st05) and this stage can
    // never drift.
    val withM = withQ.withColumn("mix_keep",
      when(col("quality_keep") === 1 &&
        graft.queries.CurationQueries
          .mixKeptExpr(opts.rates, opts.defaultRate), 1).otherwise(0))

    // exact dedup: one hash aggregate over the mix survivors and one
    // doc_id join. Both the flag spine and the span branch below read
    // withE; with no cache between them the planner reuses the
    // aggregate's exchange, so the dedup runs once per plan.
    val exactK = withM.filter(col("mix_keep") === 1)
      .groupBy(md5(to_binary(col("text"), lit("utf-8"))).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), lit(1).as("exact_keep"))
    val withE = gate(withM, "mix_keep", "exact_keep", Some(exactK), 0)
    // 3b. near-dup (opt-in): MinHash/LSH candidates → exact Jaccard
    // verify → connected components; one survivor (min doc_id) per
    // near-dup CLUSTER — the transitive qd09 rule, not the pairwise
    // qd08 one, so chains (A~B~C with A≁C) keep exactly one doc.
    // Runs over exact-dedup survivors: verbatim copies are already
    // gone, so LSH candidates here are genuine near-dups.
    val clustersOpt = opts.nearDupJaccard.map { tau =>
      // the verify's signatures and shingles and the connected
      // components' vertices each read it, in their own jobs
      val s3 = graft.Materialize(withE.filter(col("exact_keep") === 1))
      val pairs = graft.queries.DedupQueries
        .jaccardFrom(s3.select(col("doc_id"), col("text")), tau,
          opts.lshBucketCap)
        .select(col("a_id"), col("b_id"))
      val verts = s3.select(col("doc_id").as("id"))
      graft.functions.ConnectedComponents.run(pairs, verts)
    }
    // soft mode (qd23's posture): every cluster member KEEPS, and the
    // curated output carries weight_ppm = 1e6 div |cluster| so one
    // epoch samples each cluster ~once — hard mode keeps min doc_id
    val nearK = clustersOpt.map { cc =>
      if (opts.softDedup)
        cc.select(col("id").as("doc_id"), lit(1).as("near_keep"))
      else
        cc.select(col("id").as("doc_id"),
          when(col("id") === col("label"), 1).otherwise(0)
            .as("near_keep"))
    }
    val weightsOpt =
      if (!opts.softDedup) None
      else clustersOpt.map { cc =>
        val sized = cc.groupBy(col("label")).agg(count(lit(1)).as("csize"))
        cc.join(sized, "label")
          .select(col("id").as("doc_id"),
            expr("CAST(1000000 AS BIGINT) div csize").as("weight_ppm"))
      }
    val withN = gate(withE, "exact_keep", "near_keep", nearK, 0)
    // 3c. containment (opt-in, `containmentTau`) — the qd24 policy
    // over near-dup survivors: a document near-CONTAINED in a larger
    // survivor (excerpt/quote) drops; maximal documents keep. Runs
    // after near-dup so cluster-resemblance is already resolved.
    // Not materialized: containmentDropped reads its input once, into
    // the shingle relation it materializes itself.
    val contK = opts.containmentTau.map { tau =>
      graft.queries.DedupQueries.containmentDropped(
        withN.filter(col("near_keep") === 1)
          .select(col("doc_id"), col("text")), tau,
        opts.containmentDfCeil)
        .select(col("doc_id"), lit(0).as("cont_keep"))
    }
    val withC = gate(withN, "near_keep", "cont_keep", contK, 1)
    val s3n = withC.filter(col("cont_keep") === 1)

    // Span-statistics basis: in SOFT mode a kept near-dup cluster must
    // read as ONE document — exactly the rationale for running spans
    // after exact dedup — so the gram frame is built over one
    // REPRESENTATIVE per cluster (min doc_id) and members inherit its
    // verdict. Without this, the members soft dedup deliberately kept
    // would count each other's grams as cross-document duplicates and
    // the span stage would delete (or scrub to pieces) the whole
    // cluster, making soft mode strictly more destructive than hard.
    val repIds = clustersOpt.filter(_ => opts.softDedup).map(cc =>
      cc.filter(col("id") === col("label")).select(col("id").as("doc_id")))
    val spanDocs = repIds.fold(s3n.select(col("doc_id"), col("text")))(
      r => s3n.select(col("doc_id"), col("text")).join(r, Seq("doc_id")))
    // not materialized: the span filter counts gram document frequency
    // in the same scan of the explode. The opt-in decontam and scrub
    // stages explode again; a snapshot shared by all three measured
    // slower on qc07/qc10, since its own job reruns the spine.
    val sh = graft.functions.ShingleHash.exploded(spanDocs, opts.gramK)
    val spanKRep = graft.queries.CurationQueries.dupSpansFrom(sh)
      .select(col("doc_id"),
        when(col("dup_frac") <= opts.maxDupFrac, 1).otherwise(0)
          .as("span_keep"))
    val spanK = clustersOpt match {
      case Some(cc) if opts.softDedup =>
        cc.select(col("id").as("doc_id"), col("label"))
          .join(spanKRep.withColumnRenamed("doc_id", "label"),
            Seq("label"))
          .select(col("doc_id"), col("span_keep"))
      case _ => spanKRep
    }
    val decontamK = opts.evalPath.map { path =>
      // the eval table needs only `text`; ids are synthesized because
      // only the distinct gram set is used
      val eval = docs.sparkSession.read.parquet(path)
        .filter(col("text").isNotNull)
        .select(monotonically_increasing_id().as("doc_id"), col("text"))
      val evalGrams = graft.functions.ShingleHash.exploded(eval, opts.gramK)
        .select(col("sh")).distinct()
      // decontamination tests each member's OWN text even in soft mode
      // (a member can carry eval grams its representative lacks)
      val memberGrams =
        if (opts.softDedup) graft.functions.ShingleHash.exploded(
          s3n.select(col("doc_id"), col("text")), opts.gramK)
        else sh
      memberGrams.join(broadcast(evalGrams.withColumn("hit", lit(1))),
          Seq("sh"), "left")
        .groupBy(col("doc_id"))
        .agg(max(coalesce(col("hit"), lit(0))).as("contaminated"))
        .select(col("doc_id"),
          (lit(1) - col("contaminated")).as("decontam_keep"))
    }
    // 4b. span scrub (opt-in): REWRITE surviving text by cutting every
    // token covered by a cross-document duplicated gram (Lee et al.'s
    // removal posture, the operator behind qd21) — runs over the SAME
    // post-dedup survivors and the same shingle grain as the span
    // filter, so the filter drops the catastrophically-duplicated docs
    // and the scrub cleans the rest. Case is preserved; matching is
    // case-folded like every shingle decision in the funnel.
    val scrubbed = if (opts.spanScrub) {
      val dup = graft.queries.CurationQueries.gramDfFrom(sh)
        .filter(col("df") >= 2 &&
          opts.scrubDfCeil.map(c => col("df") <= c).getOrElse(lit(true)))
        .select(col("sh"))
      val posF = graft.functions.ShingleHash.positional(
        s3n.select(col("doc_id"), col("text")), opts.gramK)
      Some(graft.queries.CurationQueries.spanScrubRunsFrom(
        s3n.select(col("doc_id"), col("text")), posF, dup,
        minRun = opts.scrubMinRun,
        preserveCase = true, gramK = opts.gramK)
        .select(col("doc_id"), col("scrubbed")))
    } else None

    val flagged = gate(gate(withC, "cont_keep", "span_keep", Some(spanK), 0),
      "span_keep", "decontam_keep", decontamK, 0)

    val flaggedS = scrubbed.fold(flagged)(sc =>
      flagged.join(sc, Seq("doc_id"), "left")
        .withColumn("text", coalesce(col("scrubbed"), col("text")))
        .drop("scrubbed"))
    // 6. token budget (opt-in, `tokenBudgetDiv`) — the qc08 mixture
    // as the FINAL selection: per-source α=1/2 token quotas over the
    // funnel's survivors, filled greedily in stable md5(doc_id) order.
    // Runs over post-scrub text — the token mass a run would ingest.
    val picks = opts.tokenBudgetDiv.map { div =>
      val surv = flaggedS.filter(col("decontam_keep") === 1)
        .select(col("doc_id"), col("source"), col("text"))
      graft.queries.CurationQueries.tokenBudgetFrom(surv, div)
        .select(col("doc_id"), lit(1).as("budget_keep"))
    }
    (gate(flaggedS, "decontam_keep", "budget_keep", picks, 0), weightsOpt)
  }
}
