package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col

/** Plan-shape invariants the scaladocs claim, enforced as tests: filter
  * pushdown reaches the parquet scan, projection prunes the read
  * schema, partition pruning selects only matching directories, and the
  * "zero shuffle besides the presentation sort" queries really have at
  * most one Exchange. AQE is disabled during planning so the tree is
  * inspectable (it changes planning, not semantics — every one of these
  * queries is value-checked by the DuckDB gate under default config).
  */
class PlanAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(name: String): SparkPlan = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try graft.SparkEntry.queries(name)(spark, sf)
      .queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] =
    p.collect { case f: FileSourceScanExec => f }

  private def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] =
    p.collect { case e: ShuffleExchangeExec => e }

  test("qc08 prefix sum is two-phase: no doc-level window sorts a " +
    "whole source in one task") {
    val p = planOf("qc08_token_budget_mix")
    val wins = p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.nonEmpty, "expected window nodes in the qc08 plan")
    // windows whose input still carries doc rows must partition by
    // MORE than the source (the hkey-nibble bucket); the
    // source-partitioned offsets window runs over pre-aggregated
    // (source, bucket) partials only — its input has no doc_id
    val docWins = wins.filter(_.child.output.exists(_.name == "doc_id"))
    assert(docWins.nonEmpty, "expected a doc-level window")
    docWins.foreach { w =>
      assert(w.partitionSpec.size >= 2,
        s"doc-level window partitions by ${w.partitionSpec.mkString(",")}" +
          " — a whole source would sort in one task")
    }
  }

  test("q02: filter pushes down to the scan and columns prune") {
    val sc = scans(planOf("q02_filter_project"))
    assert(sc.nonEmpty)
    val scan = sc.head
    assert(scan.dataFilters.nonEmpty, scan.toString)
    val read = scan.requiredSchema.fieldNames.toSet
    val all = graft.Tables(spark, sf).lineitem.columns.toSet
    assert(read.subsetOf(all) && read.size < all.size,
      s"scan reads $read of $all")
  }

  test("q22: the year predicate prunes partitions at the scan") {
    val sc = scans(planOf("q22_partition_prune"))
    assert(sc.nonEmpty)
    val scan = sc.head
    assert(scan.partitionFilters.exists(_.references.exists(
      _.name == "o_year")), s"no o_year partition filter:\n$scan")
    // the pruned scan must select exactly the one matching directory
    assert(scan.relation.partitionSchema.fieldNames.contains("o_year"))
    val selected = scan.selectedPartitions.partitionCount
    assert(selected == 1,
      s"expected 1 pruned partition, got $selected")
  }

  test("signature passes shuffle at most once (presentation sort)") {
    Seq("qd02_minhash_sig", "qd05_simhash", "qt05_fingerprint",
      "qt01_text_stats", "qc01_mix_sample").foreach { q =>
      val n = shuffles(planOf(q)).length
      assert(n <= 1, s"$q has $n shuffles — expected only the ORDER BY")
    }
  }

  test("qt09/qt10 row-narrow filters shuffle at most once") {
    Seq("qt09_c4_filters", "qt10_normalize").foreach { q =>
      val n = shuffles(planOf(q)).length
      assert(n <= 1, s"$q has $n shuffles")
    }
  }

  test("corpus analytics never shuffle document text") {
    // qt12/qt13/qd13/qc02 claim their shuffles move words, hashes and
    // ids — a `text` (or raw words-array) column crossing an Exchange
    // would be the 100 TB scale-killer the scaladocs rule out
    Seq("qt12_lm_score", "qt13_bm25", "qd13_kmv_distinct",
      "qc02_temperature_mix", "qd14_bloom_prefilter").foreach { q =>
      shuffles(planOf(q)).foreach { e =>
        val names = e.child.output.map(_.name)
        assert(!names.contains("text") && !names.contains("ws"),
          s"$q shuffles a document payload column: $names")
      }
    }
    // same invariant for vectors: qs07's assignment is a broadcast-
    // literal expression, so no exchange may carry an embedding
    shuffles(planOf("qs07_kmeans_refine")).foreach { e =>
      val names = e.child.output.map(_.name)
      assert(!names.contains("embedding") && !names.contains("v"),
        s"qs07 shuffles an embedding column: $names")
    }
  }

  test("qc03: two-level rank — no single-partition exchange or " +
    "unpartitioned window over document rows") {
    val p = planOf("qc03_curriculum")
    // bins are deterministic literals, so no exchange reuse is needed
    // for correctness; what must hold is that nothing corpus-wide ever
    // funnels to one partition
    shuffles(p).foreach { e =>
      e.outputPartitioning match {
        case org.apache.spark.sql.catalyst.plans.physical.SinglePartition =>
          fail(s"corpus-wide single-partition exchange:\n$e")
        case _ => ()
      }
    }
    val globalWindows = p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty, s"unpartitioned window in qc03:\n$p")
  }

  test("qt13: posting build prunes to query terms below the shuffle") {
    // the isin(terms) filter must run scan-side (before any Exchange),
    // so the corpus-wide pass ships only matching postings
    val p = planOf("qt13_bm25")
    assert(shuffles(p).nonEmpty)
    val termFilters = p.collect {
      case f: org.apache.spark.sql.execution.FilterExec
        if f.condition.references.exists(_.name == "term") => f
    }
    assert(termFilters.nonEmpty, s"no term filter anywhere:\n$p")
    // scan-side means NOTHING below the filter has shuffled yet
    termFilters.foreach { f =>
      assert(shuffles(f).isEmpty,
        s"term filter sits above an exchange — postings shuffle unpruned:\n$p")
    }
    // and the scan reads only the two columns the query needs
    scans(p).foreach { s =>
      assert(s.requiredSchema.fieldNames.toSet.subsetOf(
        Set("doc_id", "text")), s.requiredSchema.fieldNames.mkString(","))
    }
  }

  test("no gate query plans an unpartitioned WindowExec over unbounded " +
    "input") {
    // A Window with an empty partitionSpec moves EVERY input row to one
    // partition — the 100 TB scale-killer qt13 shipped with in round 4.
    // Allowed only when a global limit (TakeOrderedAndProject /
    // GlobalLimit / CollectLimit) already bounded the frame beneath it.
    // wds* construct-time-materialize shard fixtures and st* run
    // streams, so their plans are audited by their own specs; every
    // batch-analytic family is swept here.
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.{TakeOrderedAndProjectExec,
      GlobalLimitExec, CollectLimitExec}
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filterNot(n => n.startsWith("wds") || n.startsWith("st"))
    names.foreach { q =>
      val p = planOf(q)
      // bounded = a global limit on the window's INPUT CARDINALITY
      // PATH: walk down through single-child operators only. A limit
      // sitting on some other branch (e.g. a broadcast dim under a
      // join) does NOT bound the window's row count — collectFirst
      // over the whole subtree would false-pass exactly the corpus-
      // wide funnel this sweep exists to catch.
      def boundedInput(p0: SparkPlan): Boolean = p0 match {
        case _: TakeOrderedAndProjectExec | _: GlobalLimitExec |
             _: CollectLimitExec => true
        case s if s.children.length == 1 => boundedInput(s.children.head)
        case _ => false
      }
      p.foreach {
        case w: WindowExec if w.partitionSpec.isEmpty =>
          assert(boundedInput(w.child),
            s"$q: unpartitioned WindowExec over unbounded input:\n$w")
        case _ => ()
      }
    }
  }

  /** The exchanges among `es` that carry document text (or a words or
    * grams array), each asserted to be doc_id hash-partitioned: the only
    * way the curate funnel may move text. */
  private def docIdTextExchanges(
      es: Seq[ShuffleExchangeExec]): Seq[ShuffleExchangeExec] = {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val payload = Set("text", "ws", "words", "grams")
    es.filter(_.child.output.exists(a => payload(a.name))).map { e =>
      val names = e.child.output.map(_.name).toSet
      e.outputPartitioning match {
        case h: HashPartitioning =>
          assert(h.expressions.flatMap(_.references)
            .exists(_.name == "doc_id"),
            s"text crosses a non-doc_id exchange: " +
              s"${h.expressions.mkString(",")} carrying $names")
        case other => fail(s"text crosses a $other exchange: $names")
      }
      e
    }
  }

  test("CurateStage internals: text moves ONLY on the doc_id flag " +
    "spine, never through the near-dup/span/decontam machinery") {
    // qc07 gates the funnel's ANSWERS; this audits its executed plans.
    // The LSH near-dup, dup-span, and decontam stages are hash/id
    // machinery — a regression that routes raw text (or a words/grams
    // array) through one of their exchanges is the 100 TB scale-killer
    // that value-checks can't see. The curated OUTPUT must carry text,
    // so text-bearing exchanges are legal only as doc_id-partitioned
    // flag joins, and only a bounded number of them.
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val evalDir = java.nio.file.Files
        .createTempDirectory("graft_eval_audit").toString
      graft.Tables(spark, sf).documents
        .filter(col("doc_id") % 20 === 0).select(col("text"))
        .write.mode("overwrite").parquet(evalDir)
      val res = graft.curate.CurateStage.run(
        graft.Tables(spark, sf).documents
          .select(col("doc_id"), col("text"), col("lang")),
        graft.curate.CurateStage.CurateOptions(
          nearDupJaccard = Some(0.5), evalPath = Some(evalDir)))
      try {
        // the funnel's real physical plan hides inside the persisted
        // flag frame's InMemoryRelation — unwrap it
        def expand(p: SparkPlan): Seq[SparkPlan] = {
          val inner = p.collect {
            case s: InMemoryTableScanExec => s.relation.cachedPlan
            case r: ReusedExchangeExec => r.child
          }
          p +: inner.flatMap(expand)
        }
        val plans = expand(res.curated.queryExecution.executedPlan) ++
          expand(res.stats.queryExecution.executedPlan)
        val exchanges = plans.flatMap(shuffles).distinct
        assert(exchanges.nonEmpty, "expected exchanges in the funnel")
        val spine = docIdTextExchanges(exchanges).size
        // the flag spine: quality/mix carries through the mix join, the
        // exact/near/span/decontam flag joins — pinned so a new
        // text-bearing exchange can't slip in unnoticed
        assert(spine <= 6, s"$spine text-bearing exchanges (expected <= 6)")
      } finally res.close()
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("CurateStage default path is one plan with one cache: one " +
    "shingle explode, one exact-dedup aggregate, text only on doc_id " +
    "exchanges") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Min, Partial}
    import org.apache.spark.sql.execution.{DeserializeToObjectExec, GenerateExec,
      InputAdapter, MapPartitionsExec, SerializeFromObjectExec, SparkPlan,
      WholeStageCodegenExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val res = graft.curate.CurateStage.run(
        graft.Tables(spark, sf).documents
          .select(col("doc_id"), col("text"), col("lang")),
        graft.curate.CurateStage.CurateOptions())
      try {
        val top = res.curated.queryExecution.executedPlan
        val rels = top.collect { case s: InMemoryTableScanExec => s.relation }
        assert(rels.size == 1, s"${rels.size} cached relations:\n$top")
        // the flag frame's own plan must hold no further cache; a
        // ReusedExchange is a reference, not a second computation, so
        // its subtree is not descended into
        val inner = rels.head.cachedPlan
        val nested = inner.collect { case s: InMemoryTableScanExec => s }
        assert(nested.isEmpty, s"${nested.size} nested caches:\n$inner")
        val explodes = inner.collect {
          case g: GenerateExec if g.generator.exists(
              _.isInstanceOf[graft.functions.ShingleHashes]) => g
        }
        assert(explodes.size == 1,
          s"${explodes.size} shingle explodes:\n$inner")
        // the explode runs in generated code, with no object round trip
        def stage(p: SparkPlan): Seq[SparkPlan] = p match {
          case _: InputAdapter => Nil
          case _ => p +: p.children.flatMap(stage)
        }
        val codegenExplodes = inner.collect {
          case w: WholeStageCodegenExec => stage(w.child).filter(explodes.contains)
        }.flatten
        assert(codegenExplodes.size == 1,
          s"the shingle explode is outside whole-stage codegen:\n$inner")
        val objectOps = inner.collect {
          case o @ (_: MapPartitionsExec | _: SerializeFromObjectExec |
              _: DeserializeToObjectExec) => o.nodeName
        }
        assert(objectOps.isEmpty, s"object operators $objectOps:\n$inner")
        // min(doc_id) per content hash is the funnel's only min()
        val dedupAggs = inner.collect {
          case a: BaseAggregateExec if a.aggregateExpressions.exists(e =>
            e.mode == Partial && e.aggregateFunction.isInstanceOf[Min]) => a
        }
        assert(dedupAggs.size == 1,
          s"${dedupAggs.size} exact-dedup aggregates:\n$inner")
        assert(inner.exists(_.isInstanceOf[ReusedExchangeExec]),
          s"the spine and the span branch share no exchange:\n$inner")
        docIdTextExchanges(shuffles(inner))
      } finally res.close()
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("qe08: the interval join is an equi-join, never a nested loop") {
    // binning exists to give the planner equi-keys — a
    // BroadcastNestedLoopJoin in this plan means the rewrite regressed
    // to the theta-join the query exists to avoid
    val p = planOf("qe08_interval_bin_join")
    val nlj = p.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(nlj.isEmpty, s"interval join planned as nested loop:\n$p")
    val equiJoins = p.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
        j.leftKeys.length
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
        j.leftKeys.length
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
        j.leftKeys.length
    }
    assert(equiJoins.exists(_ >= 2),
      s"expected an equi-join on (user, bin):\n$p")
  }

  test("qa01: per-column branches — every scan pruned to ONE column, " +
    "no Expand") {
    // the profile runs one column-pruned scan + distinct-value groupBy
    // per column (columnar reads: 6 one-column scans = one full-width
    // scan in bytes). An ExpandExec here means the plan regressed to
    // the multi-count_distinct form that multiplies every row by the
    // number of profiled columns before the shuffle.
    val p = planOf("qa01_profile")
    val sc = scans(p)
    assert(sc.length == 6, s"expected 6 per-column scans, got ${sc.length}")
    sc.foreach { s =>
      assert(s.requiredSchema.fieldNames.length == 1,
        s"scan not pruned to one column: ${s.requiredSchema.fieldNames.mkString(",")}")
    }
    val expands = p.collect {
      case e: org.apache.spark.sql.execution.ExpandExec => e
    }
    assert(expands.isEmpty, s"multi-distinct Expand in qa01:\n$p")
  }

  test("qa02: the one-scan audit really scans once (plus uniqueness)") {
    // row-local constraints promise a single pass over lineitem; the
    // uniqueness rule keeps a second scan — allow exactly 2
    assert(scans(planOf("qa02_constraints")).length == 2)
  }

  test("round-5 tier: scans read only the claimed columns") {
    // qd17: the CDC kernel path needs (source, text) and nothing else
    scans(planOf("qd17_cdc_chunks")).foreach { s =>
      assert(s.requiredSchema.fieldNames.toSet
        .subsetOf(Set("source", "text")),
        s.requiredSchema.fieldNames.mkString(","))
    }
    // qa05/st-free batch spike audit: (event_type, ts) only
    scans(planOf("qa05_spike_detect")).foreach { s =>
      assert(s.requiredSchema.fieldNames.toSet
        .subsetOf(Set("event_type", "ts")),
        s.requiredSchema.fieldNames.mkString(","))
    }
    // qc06 DSIR: (doc_id, lang, text) — score + stable-order key only
    scans(planOf("qc06_dsir_select")).foreach { s =>
      assert(s.requiredSchema.fieldNames.toSet
        .subsetOf(Set("doc_id", "lang", "text")),
        s.requiredSchema.fieldNames.mkString(","))
    }
    // qg01 textrank: the co-occurrence graph needs text alone
    scans(planOf("qg01_textrank")).foreach { s =>
      assert(s.requiredSchema.fieldNames.toSet.subsetOf(Set("text")),
        s.requiredSchema.fieldNames.mkString(","))
    }
  }

  test("media decode queries keep an explicit-count repartition " +
    "(AQE would coalesce the tiny id shuffle and serialize the codec)") {
    // the per-row decode stages are compute-bound with a few-KB
    // shuffle; AQE sizes partitions by BYTES, so only a user-pinned
    // partition count keeps them parallel (SCALE.md "AQE coalescing").
    // Guard: the plan carries a hash-partitioned exchange whose
    // numPartitions is the session default — i.e. repartition(N, col),
    // not repartition(col).
    for (q <- Seq("mm14_avc_decode", "mm16_avc_inter", "mm17_avc_slices",
      "mm18_avc_multiref", "mm19_avc_weighted", "mm20_avc_bframes",
      "mm21_avc_fmp4", "mm22_flac_decode")) {
      val ex = shuffles(planOf(q))
      assert(ex.exists(e =>
        e.outputPartitioning.numPartitions ==
          spark.sparkContext.defaultParallelism), q)
    }
  }

  private def planDf(df: => DataFrame): SparkPlan = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try df.queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("qd20 candidate stage shuffles (vec_id, bucket) ints — " +
    "embeddings never cross an exchange") {
    // the width-rule path must keep the qd06 claim at every width:
    // signatures are computed in one narrow pass, the bucket join
    // keys on ints, and the 64-float embedding column never enters a
    // shuffle (at 100 TB that difference is the network bill)
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    for (bits <- Seq(8, 13)) {
      val p = planDf(DedupQueries.embCandidates(e, 12, bits, 64))
      val ex = shuffles(p)
      assert(ex.nonEmpty, s"bits=$bits: bucket join should shuffle")
      ex.foreach(s => assert(!s.output.map(_.name).contains("embedding"),
        s"bits=$bits: embedding crossed an exchange"))
    }
  }

  test("compactVerdicts joins only the staged hash relation — " +
    "content and decode never appear") {
    import spark.implicits._
    val stage = java.nio.file.Files.createTempDirectory("pa_cv").toString
    val media = Seq((1L, 0, Array[Byte](1, 1, 2, 2)),
      (2L, 0, Array[Byte](1, 1, 2, 2)))
      .toDF("media_id", "take", "content")
    val fp: Array[Byte] => IndexedSeq[String] =
      b => b.grouped(2).map(g => g.map(x => f"$x%02x").mkString)
        .toIndexedSeq
    val staged = graft.multimodal.MediaDedup.stageShingles(
      media, stage, fp, window = 1)
    val verdicts = Seq((1L, 0, 1L, 0), (2L, 0, 1L, 0))
      .toDF("media_id", "take", "owner_id", "owner_take")
    val p = planDf(
      graft.multimodal.MediaDedup.compactVerdicts(verdicts, staged))
    scans(p).foreach { s =>
      val cols = s.requiredSchema.fieldNames.toSet
      assert(cols.subsetOf(Set("media_id", "take", "sh", "n_sh")),
        s"compaction scan reads $cols — not the staged hash relation")
    }
    assert(!p.toString.contains("UDF"),
      "a decode UDF survives in the compaction plan")
    shuffles(p).foreach(s =>
      assert(!s.output.map(_.name).contains("content"),
        "media content crossed an exchange in the compaction"))
  }

  test("near-dup fan-out plans contain no decode: both join branches " +
    "read the staged hash parquet") {
    // MediaDedup.shingleNearDup stages (media_id, take, sh, n_sh)
    // before the self-join precisely so the decode UDF cannot appear
    // in the fan-out plan (a naive self-join re-decodes per branch;
    // the VideoNearDupSpec counters pin the runtime side, this pins
    // the plan shape). Query CONSTRUCTION runs the staging job, so
    // planOf here is expected to kick off the decode write first.
    for (q <- Seq("mm27_video_near_dup", "mm28_video_phash_dup",
      "mm29_audio_near_dup", "mm31_image_phash_dup")) {
      val p = planOf(q)
      val sc = scans(p)
      // ≥2 scans: the single-join arm reads the staged parquet twice;
      // the exact-dup pre-collapse arm (taken when the fixture has
      // identical-fingerprint classes — mm28's coarse phash does at
      // gate scale) adds a third, COLUMN-PRUNED scan for the class
      // signatures. The invariant is decode-freedom, not a scan
      // count: every scan must read only staged hash columns.
      assert(sc.size >= 2, s"$q: expected >=2 staged-parquet scans, " +
        s"got ${sc.size}")
      sc.foreach { scan =>
        val cols = scan.requiredSchema.fieldNames.toSet
        assert(cols.subsetOf(Set("media_id", "take", "sh", "n_sh")),
          s"$q scan reads $cols — not the staged hash relation")
      }
      val gens = p.collect {
        case g: org.apache.spark.sql.execution.GenerateExec => g }
      assert(gens.isEmpty, s"$q: explode/UDF present in the fan-out " +
        s"plan — decode is not staged")
      assert(!p.toString.contains("UDF"),
        s"$q: a UDF survives in the fan-out plan")
    }
  }

  test("qa09/qc08: document text never crosses an exchange — the " +
    "corpus reduces before the first shuffle") {
    // qa09 shuffles (source, 60-bit hash) sketch rows; qc08 shuffles
    // (doc_id, source, n_tok, hkey) for its window — at 100 TB the
    // text column staying out of every exchange IS the design
    for (q <- Seq("qa09_source_overlap", "qc08_token_budget_mix")) {
      val ex = shuffles(planOf(q))
      assert(ex.nonEmpty, s"$q: expected at least one exchange")
      ex.foreach(s => assert(!s.output.map(_.name).contains("text"),
        s"$q: text crossed an exchange"))
    }
  }

  test("qd26: every consumer reads the cached shingle relation — " +
    "zero direct documents scans in the plan") {
    // the exploded (doc_id, shingle) relation feeds five consumers
    // (sizes, df ceiling, candidate join, both shared-count sides);
    // it is materialized once per call (the round-12 cache took the
    // row from 15.0s to 3.4s at sf0.1). A direct parquet scan of
    // `documents` reappearing in this plan means a consumer fell off
    // the snapshot and the explode runs again.
    val p = planOf("qd26_containment_capped")
    val docScans = scans(p).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("documents")))
    assert(docScans.isEmpty,
      s"${docScans.size} direct documents scan(s) — shingle snapshot bypassed")
    val snaps = p.collect {
      case r: org.apache.spark.sql.execution.RDDScanExec => r.rdd
    }
    assert(snaps.nonEmpty, "expected consumers of the materialized relation")
    assert(snaps.forall(r => r.isCheckpointed && r.getCheckpointFile.isDefined),
      "a consumer reads an RDD that is not a reliable snapshot")
  }

  test("qs12: the corpus-scale pool ranking shuffles (q_id, c_id, " +
    "rel) only — raw vectors never cross it") {
    val ex = shuffles(planOf("qs12_mmr_topk"))
    assert(ex.nonEmpty)
    // query vectors broadcast; the full-corpus window exchange is the
    // one carrying rel without cv (embeddings re-attach to the tiny
    // pool AFTER ranking, via a broadcast join)
    ex.foreach { s =>
      val names = s.output.map(_.name)
      assert(!names.contains("embedding") && !names.contains("qv"),
        s"raw vectors crossed an exchange: $names")
    }
    assert(ex.exists { s =>
      val names = s.output.map(_.name)
      names.contains("rel") && !names.contains("cv")
    }, "no slim ranking exchange found — the pool window ships vectors")
  }

  test("qd11: the eval side broadcasts and no exchange carries text " +
    "or raw grams") {
    val p = planOf("qd11_decontam")
    val bhj = p.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
        => j
    }
    assert(bhj.nonEmpty, "decontamination must broadcast the eval side")
    shuffles(p).foreach { e =>
      val names = e.child.output.map(_.name)
      assert(!names.contains("text") && !names.contains("ws"),
        s"qd11 shuffles a document payload column: $names")
    }
  }

  test("qd28: exchanges move fingerprints and ids only — text never " +
    "crosses, and the lake side is filtered below its join") {
    val p = planOf("qd28_bloom_incremental")
    shuffles(p).foreach { e =>
      val names = e.child.output.map(_.name)
      assert(!names.contains("text"),
        s"qd28 shuffles document text: $names")
    }
    // the bloom prefilter must sit between the lake scan and the
    // exact join as the CODEGEN'D BloomFilterMightContain expression
    // (the runtime-filter primitive), never a Scala UDF that would
    // break the lake scan out of whole-stage codegen
    val hasBloomFilter = p.collect {
      case f: org.apache.spark.sql.execution.FilterExec
        if f.condition.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions
            .BloomFilterMightContain]) => f
    }
    assert(hasBloomFilter.nonEmpty,
      "no might_contain filter found on the lake branch")
    assert(!p.toString.contains("UDF"),
      "qd28's plan must not contain any Scala UDF node")
  }

  test("wds DSv2 select pushdown: pinned in the scan's explain AND " +
    "bytes-read drops on fat ignored entries") {
    // SURVEY §4.1's one custom pushdown: the tokenize-style narrow
    // projection (json-only to_dict) must prune tar entries BEFORE
    // decode. Two pins: the select globs appear on the BatchScan node
    // (a pruned and an unpruned scan must not explain identically),
    // and skipping really skips — reading a shard whose samples are
    // 1 MiB of ignored payload plus a few bytes of json must move a
    // fraction of the unpruned read's bytes (tar skip = seek on a
    // local/HDFS stream, not read-and-discard).
    val dir = java.nio.file.Files.createTempDirectory("pa_wds_sel").toString
    val tar = s"$dir/fat-000000.tar"
    val out = new java.io.FileOutputStream(tar)
    val w = new graft.wds.TarIO.TarWriter(out)
    val fat = new Array[Byte](1 << 20)
    (0 until 8).foreach { i =>
      w.write(graft.wds.Sample(f"$i%06d", "", Map(
        "json" -> s"""{"i":$i}""".getBytes("UTF-8"),
        "bin" -> fat))): Unit
    }
    w.close()
    def fileBytesRead: Long = {
      val s = org.apache.hadoop.fs.FileSystem
        .getGlobalStorageStatistics.get("file")
      if (s == null) 0L else s.getLong("bytesRead").longValue()
    }
    def run(select: Option[String]): (String, Long) = {
      val base = spark.read.format("wds")
      val df = select.fold(base)(g => base.option("select", g)).load(tar)
        .select(col("key"), col("entries"))
      val plan = planDf(df).toString
      val before = fileBytesRead
      df.collect(): Unit // materializes entries through the reader
      (plan, fileBytesRead - before)
    }
    val (prunedPlan, prunedBytes) = run(Some("*.json"))
    val (fullPlan, fullBytes) = run(None)
    assert(prunedPlan.contains("select=[*.json]"),
      s"select pushdown missing from the wds scan:\n$prunedPlan")
    assert(!fullPlan.contains("select=["), fullPlan)
    assert(fullBytes > (8L << 20),
      s"unpruned read moved only $fullBytes bytes")
    assert(prunedBytes < fullBytes / 2,
      s"select read $prunedBytes of $fullBytes unpruned bytes — " +
        "fat entries were read, not skipped")
  }

  test("mm32 alignment fan-out is decode-free: both vote-join " +
    "branches read the staged POSITIONAL parquet") {
    // dupSegmentAlign stages (media_id, take, pos, sh) before the
    // offset-vote join — same decode-once contract as mm27, plus the
    // position column and nothing else
    val p = planOf("mm32_dup_segments")
    val sc = scans(p)
    assert(sc.size == 2, s"expected 2 staged-parquet scans, got ${sc.size}")
    sc.foreach { scan =>
      val cols = scan.requiredSchema.fieldNames.toSet
      assert(cols == Set("media_id", "take", "pos", "sh"),
        s"mm32 scan reads $cols — not the staged positional relation")
    }
    assert(!p.toString.contains("UDF"),
      "mm32: a decode UDF survives in the alignment plan")
    shuffles(p).foreach(s =>
      assert(!s.output.map(_.name).contains("content"),
        "mm32: media content crossed an exchange"))
  }

  test("CheckStage.index: one codegen'd scan per bin — no from_json, " +
    "decode or array_remove, and one exchange (the url aggregate)") {
    import java.util.concurrent.atomic.AtomicReference
    import graft.functions.PackedJsonStats
    import org.apache.spark.sql.catalyst.expressions.{ArrayRemove, JsonToStructs, StringDecode}
    import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
    import org.apache.spark.sql.execution.{QueryExecution, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.util.QueryExecutionListener
    import spark.implicits._
    val packDir = java.nio.file.Files.createTempDirectory("pa_pack").toString
    val tokDir = java.nio.file.Files.createTempDirectory("pa_tok").toString
    // enough ~1k-token docs to flush whole 8k bins (a final partial
    // bin is dropped)
    val meta = (0 until 30).map(i => (s"videos/v$i.mp4", s"caption $i"))
      .toDF("video_path", "value")
    val packUrls = graft.pack.PackStage.run(meta, packDir,
        graft.pack.PackStage.PackOptions(numSegments = 4, samplesPerTar = 10))
      .collect().map(_.getAs[String]("url")).toSeq.sorted
    val tokUrls = graft.tokenize.TokenizeStage.run(
        graft.wds.WdsReader.readUrls(spark, packUrls).coalesce(1), tokDir)
      .collect().map(_.getAs[String]("url")).toSeq
    val tokenized = graft.wds.WdsReader.readUrls(spark, tokUrls)
    // index() collects internally and returns a local relation: the
    // plan that scanned the tars is the collect's, seen by a listener
    val ran = new AtomicReference[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = ran.set(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    org.apache.spark.GraftSparkShim.drainListenerBus(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      graft.index.CheckStage.index(tokenized, strict = true)
      org.apache.spark.GraftSparkShim.drainListenerBus(spark.sparkContext)
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set("spark.sql.adaptive.enabled", prev)
    }
    val qe = ran.get()
    assert(qe != null, "the index collect was not delivered")
    val plan = qe.executedPlan
    val exprs = plan.collect { case n => n.expressions }.flatten
      .flatMap(_.collect { case e => e })
    // decode() plans as a static call into StringDecode
    val parsed = exprs.filter {
      case _: JsonToStructs | _: StringDecode | _: ArrayRemove => true
      case si: StaticInvoke => si.staticObject == classOf[StringDecode]
      case _ => false
    }
    assert(parsed.isEmpty, s"${parsed.map(_.prettyName)} in:\n$plan")
    val kernels = exprs.count(_.isInstanceOf[PackedJsonStats])
    assert(kernels == 1, s"$kernels kernel calls in:\n$plan")
    val inCodegen = plan.collect { case w: WholeStageCodegenExec => w }
      .exists(_.child.exists(_.expressions.exists(
        _.exists(_.isInstanceOf[PackedJsonStats]))))
    assert(inCodegen, s"the kernel is outside whole-stage codegen:\n$plan")
    val exchanges = plan.collect { case e: Exchange => e }
    assert(exchanges.size == 1, s"${exchanges.size} exchanges:\n$plan")
  }
}
