package graft.queries

import graft.{QueryDef, QueryRegistry, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication suite over `documents` / `embeddings` — the north-star
  * operators of a 100 TB training-data pipeline:
  *
  *  - exact dedup: content-hash groupBy (one shuffle on a 32-byte key)
  *  - MinHash signatures: per-row HOFs only — ZERO shuffle; signature
  *    cost is O(words) per doc and the scan stays in codegen
  *  - LSH banding: candidate pairs via equi-join on (band, hash) — the
  *    join key is the band hash, so at scale the shuffle moves only
  *    (doc_id, band_hash) pairs, never documents
  *  - n-gram Jaccard: exact verification ONLY on LSH candidates (the
  *    classic two-phase near-dup pipeline; no O(n²) pass anywhere)
  *  - embedding cosine near-dup: threshold self-join (brute-force at
  *    test scale; see SimilarityQueries for the bucketed scale path)
  *
  * Cross-engine determinism: every hash is md5-over-UTF-8 (identical in
  * Spark and DuckDB), minhash = lexicographic min over md5 strings.
  */
object DedupQueries extends QueryRegistry {

  private val NumHashes = 8
  private val BandSize = 2 // 4 bands × 2 rows
  private val NumBands = NumHashes / BandSize

  // ---- shared shingle / signature builders (Spark side) ----

  private def words(c: Column): Column = split(lower(c), " ")

  /** doc_id + h0..h7 signature frame — the shared prefix of the
    * minhash/LSH/jaccard queries. Computed by the single-pass JVM kernel
    * ([[graft.functions.MinHash]]); MinHashSpec asserts it equals the
    * declarative interpreted-HOF form value-for-value. */
  private[queries] def signatures(s: SparkSession, dir: String): DataFrame =
    graft.functions.MinHash.signatures(
      Tables(s, dir).documents.select(col("doc_id"), col("text")),
      NumHashes)

  /** Band hash = md5 over the band's minhashes, namespaced by band idx,
    * truncated to 16 hex chars — half the shuffle payload of the full
    * digest at 2^64 collision space (collisions only ever ADD a
    * candidate pair, and the oracle truncates identically). */
  private def bandCols: Seq[Column] = bandColsFor(NumBands, BandSize)

  /** Band projection for an arbitrary (bands × rows) split of the
    * signature — ONE recipe for the production layout and qd18's
    * sweep (drift between them would make the sweep measure a layout
    * the production path no longer uses). */
  private def bandColsFor(nb: Int, bs: Int): Seq[Column] =
    (0 until nb).map { b =>
      val parts = (0 until bs).map(i => col(s"h${b * bs + i}"))
      substring(md5(to_binary(concat_ws("|", lit(b.toString) +: parts: _*),
        lit("utf-8"))), 1, 16).as(s"band$b")
    }

  // ---- DuckDB side (same constructions, generated in lockstep) ----

  private val wsSqlCte =
    "SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents"

  private val shinglesSql =
    """SELECT doc_id, CASE WHEN len(ws) >= 3
      |  THEN list_transform(generate_series(1, len(ws) - 2),
      |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
      |  ELSE [array_to_string(ws, ' ')] END AS shs
      |FROM w""".stripMargin

  private def minhashSql(k: Int): String =
    s"list_min(list_transform(shs, x -> md5('$k|' || x))) AS h$k"

  private[queries] val sigSqlCte = {
    val hs = (0 until NumHashes).map(minhashSql).mkString(",\n    ")
    s"""WITH w AS ($wsSqlCte),
       |s AS ($shinglesSql),
       |sig AS (
       |  SELECT doc_id,
       |    $hs
       |  FROM s)""".stripMargin
  }

  private def bandSql(b: Int): String = bandSqlFor(b, BandSize)

  /** SQL twin of [[bandColsFor]] for one band of width bs. */
  private def bandSqlFor(b: Int, bs: Int): String = {
    val parts = (0 until bs).map(i => s"h${b * bs + i}")
      .mkString(" || '|' || ")
    s"substr(md5('$b' || '|' || $parts), 1, 16) AS band$b"
  }

  /** Shared `bands -> eb -> cand` CTE chain (band columns, exploded
    * band rows, distinct a<b candidate pairs) appended after
    * [[sigSqlCte]] by every oracle that verifies over LSH candidates
    * (qd03/qd04/qd10/qd16). */
  private[queries] lazy val candSqlCtes: String = {
    val bandExprs = (0 until NumBands).map(bandSql).mkString(",\n    ")
    s"""bands AS (
       |  SELECT doc_id,
       |    $bandExprs
       |  FROM sig),
       |eb AS (
       |  SELECT doc_id, unnest([${(0 until NumBands)
        .map(b => s"band$b").mkString(", ")}]) AS band
       |  FROM bands),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM eb a JOIN eb b ON a.band = b.band AND a.doc_id < b.doc_id)""".stripMargin
  }

  // ---- queries ----

  /** Exact dedup: group by content hash, keep min doc_id. */
  private def exact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir).documents
      .groupBy(md5(to_binary($"text", lit("utf-8"))).as("content_hash"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy($"content_hash")
  }

  private val exactSql =
    """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
      | count(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin

  /** MinHash signature table (pure per-row compute, no shuffle). */
  private def minhashSig(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    signatures(s, dir).orderBy($"doc_id")
  }

  private val minhashSigSql =
    s"""$sigSqlCte
       |SELECT * FROM sig ORDER BY doc_id""".stripMargin

  /** LSH candidate pairs: docs sharing ≥1 band. */
  private def lshPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    lshPairsFrom(signatures(s, dir)).orderBy($"a_id", $"b_id")
  }

  /** qd03 core over any signature frame. */
  private[graft] def lshPairsFrom(sigIn: DataFrame): DataFrame =
    lshPairsFor(sigIn, NumBands, BandSize)

  /** Candidate pairs under an arbitrary (bands × rows) layout —
    * production shape when called with (NumBands, BandSize); qd18's
    * sweep calls it per swept layout. */
  private def lshPairsFor(sigIn: DataFrame, nb: Int, bs: Int): DataFrame = {
    import sigIn.sparkSession.implicits._
    val sig = sigIn.select($"doc_id" +: bandColsFor(nb, bs): _*)
    val bands = sig.select($"doc_id", explode(array(
      (0 until nb).map(b => col(s"band$b")): _*)).as("band"))
    val a = bands.as("a")
    val b = bands.as("b")
    a.join(b, col("a.band") === col("b.band") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
  }

  private val lshPairsSql = {
    val bandExprs = (0 until NumBands).map(bandSql).mkString(",\n    ")
    s"""$sigSqlCte,
       |bands AS (
       |  SELECT doc_id,
       |    $bandExprs
       |  FROM sig),
       |eb AS (
       |  SELECT doc_id, unnest([${(0 until NumBands)
        .map(b => s"band$b").mkString(", ")}]) AS band
       |  FROM bands)
       |SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |FROM eb a JOIN eb b ON a.band = b.band AND a.doc_id < b.doc_id
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** Bucket-size ceiling for qd27. Binds at sf0.1 (4 buckets above
    * it, max 16) and is provably a no-op on the smaller fixtures
    * (max bucket 4), so the gate certifies both regimes. */
  private[queries] val LshBucketCap = 10

  /** qd27: qd03's banded LSH with a BUCKET-SIZE ceiling — the skew
    * guard for the MinHash-LSH workhorse at corpus scale. A band
    * value shared by m documents emits m(m−1)/2 candidate pairs, so
    * one corpus-hot bucket (boilerplate family, template page, the
    * all-identical signature of trivially-short docs) is quadratic in
    * the corpus — at 100 TB a 1M-doc bucket is 5·10¹¹ pairs and the
    * job never finishes. A bucket past the ceiling is
    * boilerplate-grade duplication that exact dedup (qd01) already
    * collapses and the downstream exact-Jaccard verify (qd04) would
    * re-derive pair by pair at quadratic cost; dropping the BUCKET
    * (not its members) keeps every member pairable through its other,
    * selective bands — the standard cap in production MinHash-LSH
    * (e.g. bucket limits in Lee et al. 2022's suffix-array scale
    * notes and every LSH system's skew guard). Per-bucket work is
    * bounded by cap², the same ceiling-bounds-fan-out posture as
    * qd26's sketch-side df ceiling. */
  private[graft] def lshPairsCapped(
      sigIn: DataFrame, cap: Int = LshBucketCap): DataFrame = {
    import sigIn.sparkSession.implicits._
    // cap <= 0 would mark EVERY non-empty bucket hot and silently
    // disable the stage — a caller error, failed loudly (the qc08
    // budgetDiv posture)
    require(cap > 0, s"lsh bucket cap must be positive, got $cap")
    // the exploded band relation feeds the hot-bucket aggregate and
    // BOTH sides of the candidate self-join: materialized, so the
    // minhash+band-md5 pipeline runs once per call
    val bands = graft.Materialize(
      sigIn.select($"doc_id" +: bandColsFor(NumBands, BandSize): _*)
        .select($"doc_id", explode(array(
          (0 until NumBands).map(b => col(s"band$b")): _*)).as("band")))
    val hot = bands.groupBy($"band").agg(count(lit(1)).as("m"))
      .filter($"m" > cap).select($"band")
    val kept = bands.join(hot, Seq("band"), "left_anti")
    kept.as("a").join(kept.as("b"), col("a.band") === col("b.band") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
  }

  private def lshPairsCappedQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    lshPairsCapped(signatures(s, dir)).orderBy($"a_id", $"b_id")
  }

  private val lshPairsCappedSql = {
    val bandExprs = (0 until NumBands).map(bandSql).mkString(",\n    ")
    s"""$sigSqlCte,
       |bands AS (
       |  SELECT doc_id,
       |    $bandExprs
       |  FROM sig),
       |eb AS (
       |  SELECT doc_id, unnest([${(0 until NumBands)
        .map(b => s"band$b").mkString(", ")}]) AS band
       |  FROM bands),
       |hot AS (SELECT band FROM eb GROUP BY band
       |        HAVING count(*) > $LshBucketCap),
       |ebc AS (SELECT doc_id, band FROM eb ANTI JOIN hot USING (band))
       |SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |FROM ebc a JOIN ebc b ON a.band = b.band AND a.doc_id < b.doc_id
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** Exact n-gram Jaccard verification over the LSH candidates:
    * distinct-shingle explode → equi-join on shingle → shared counts →
    * jaccard = |∩| / |∪|; report pairs ≥ 0.5. */
  private def jaccard(s: SparkSession, dir: String): DataFrame =
    jaccardFrom(Tables(s, dir).documents).orderBy(col("a_id"), col("b_id"))

  /** qd04 core over any (doc_id, text) frame — the LSH-candidates →
    * exact-verify chain, reused by the curate funnel's near-dup stage. */
  /** `lshBucketCap`: opt-in qd27 skew guard — candidate buckets larger
    * than the cap are dropped before the self-join (see
    * [[lshPairsCapped]]); None keeps the pure qd03 candidates. */
  private[graft] def jaccardFrom(
      docs: DataFrame, tau: Double = 0.5,
      lshBucketCap: Option[Int] = None): DataFrame = {
    val sig = graft.functions.MinHash.signatures(
      docs.select(col("doc_id"), col("text")), NumHashes)
    val cand = lshBucketCap.fold(lshPairsFrom(sig))(lshPairsCapped(sig, _))
    jaccardOverCands(docs, cand, tau)
  }

  /** Distinct-shingle explode + per-doc sizes — built once and shared
    * across qd18's sweep configs (the verify side's corpus pass).
    * Shingles ship as 16-hex md5 hashes, not raw k-gram strings: the
    * verify join's shuffle payload drops 2–4× (a 5-gram string is
    * 30–60 bytes) and distinct counts — hence shared/jaccard values —
    * are hash-invariant, so every raw-shingle oracle stays valid
    * unchanged (a 64-bit collision could only ADD a shared count,
    * the same accepted posture as the band hashes and qd22's sketch). */
  private def shingleFrames(docs: DataFrame): (DataFrame, DataFrame) = {
    import docs.sparkSession.implicits._
    val sh = shingleRelation(docs)
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
    (sh, sizes)
  }

  /** Exact-verify stage alone, over an externally supplied candidate
    * frame — shared by qd04/curate (candidates from the production
    * layout) and qd18 (candidates from each swept layout). */
  private def jaccardOverCands(
      docs: DataFrame, cand: DataFrame, tau: Double): DataFrame = {
    val (sh, sizes) = shingleFrames(docs)
    verifyCands(cand, sh, sizes, tau)
  }

  /** Verify against precomputed shingle frames. */
  private def verifyCands(
      cand0: DataFrame, sh: DataFrame, sizes: DataFrame,
      tau: Double): DataFrame = {
    val s = cand0.sparkSession
    import s.implicits._
    // guide §3.2: semi-filter BOTH sides of the shared-count join to
    // candidate ids — candidates are sparse (LSH-selected), the corpus
    // explode is not. The pair set feeds both prefilters and the join,
    // so it is materialized: the LSH derivation runs once. Result-
    // identical: a semi join only removes rows with no partner.
    val cand = graft.Materialize(cand0)
    val shA = sh.join(cand.select($"a_id").distinct(),
      sh("doc_id") === col("a_id"), "left_semi")
    val shB = sh.join(cand.select($"b_id").distinct(),
      sh("doc_id") === col("b_id"), "left_semi")
    val shared = cand
      .join(shA.as("sa"), col("a_id") === col("sa.doc_id"))
      .join(shB.as("sb"), col("b_id") === col("sb.doc_id") &&
        col("sa.sh") === col("sb.sh"))
      .groupBy($"a_id", $"b_id")
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.as("na"), col("a_id") === col("na.doc_id"))
      .join(sizes.as("nb"), col("b_id") === col("nb.doc_id"))
      .select($"a_id", $"b_id", $"shared",
        round($"shared".cast("double") /
          (col("na.n_sh") + col("nb.n_sh") - $"shared"), 6).as("jaccard"))
      .filter($"jaccard" >= tau)
    // presentation order belongs to the qd04 wrapper — callers like
    // the curate near-dup stage feed this straight into CC, where a
    // global sort is a wasted exchange
  }

  private val jaccardSql = {
    s"""$sigSqlCte,
       |$candSqlCtes,
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(shs)) AS sh FROM s),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
       |shared AS (
       |  SELECT a_id, b_id, count(*) AS shared
       |  FROM cand
       |  JOIN sh sa ON a_id = sa.doc_id
       |  JOIN sh sb ON b_id = sb.doc_id AND sa.sh = sb.sh
       |  GROUP BY a_id, b_id)
       |SELECT a_id, b_id, shared,
       |  round(shared::DOUBLE / (na.n_sh + nb.n_sh - shared), 6) AS jaccard
       |FROM shared
       |JOIN sizes na ON a_id = na.doc_id
       |JOIN sizes nb ON b_id = nb.doc_id
       |WHERE round(shared::DOUBLE / (na.n_sh + nb.n_sh - shared), 6) >= 0.5
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** Bottom-k sketch size and containment threshold for qd22. k = 4
    * random (md5-min) shingles per doc: a pair with true containment c
    * escapes candidacy only if NONE of the smaller doc's bottom-k
    * shingles lands in the larger — P ≈ (1-c)^k, under 3% at c = 0.6. */
  private val BottomK = 4
  private val ContainTau = 0.6

  /** The (doc_id, sh) relation of `docs`: each doc's distinct 3-word
    * shingles as 16-hex md5 prefixes, from the JVM kernel
    * [[graft.functions.ShingleHash.exploded]]; a null text hashes as
    * the empty gram. Only hashes and ids reach its joins; wire width and collision posture are in
    * ShingleHash and SCALE.md. Materialized: the containment and
    * Jaccard verifies read it from several consumers, and each call
    * explodes the corpus once. */
  private def shingleRelation(docs: DataFrame): DataFrame =
    graft.Materialize(graft.functions.ShingleHash.exploded(
      docs.select(col("doc_id"), coalesce(col("text"), lit("")).as("text")),
      3))

  /** qd22 core over any (doc_id, text) frame: bottom-k containment
    * dedup — the near-SUBSET complement of qd04. Jaccard punishes size
    * mismatch (a 40-word doc verbatim inside a 100-word doc scores
    * ~0.4 and slips every Jaccard gate, and MinHash-LSH candidates
    * inherit that bias because band collision probability tracks
    * Jaccard), so quote/boilerplate/partial-mirror duplication needs
    * containment = |A∩B| / min(|A|,|B|) (Broder's resemblance-vs-
    * containment distinction; Gopher-style n-gram overlap gates).
    *
    * Candidates come from the bottom-k sketch instead of LSH bands:
    * each doc posts its k SMALLEST shingle hashes (md5-min picks
    * uniformly among the doc's distinct shingles), and a pair is a
    * candidate when a bottom-k hash of either side appears anywhere in
    * the other's full shingle relation — if A ⊆ B then A's minimum
    * shingle hash is IN B, so true subsets are candidates with
    * certainty and near-subsets escape with P ≈ (1-c)^k. The join
    * keys on 16-hex hashes; payload is (hash, id) both sides, k·n
    * rows on the sketch side. A corpus-hot shingle that happens to be
    * some doc's bottom-k hash fans out by its document frequency —
    * at 100 TB, prune shingles above a df ceiling from the SKETCH side
    * first (they cannot evidence subset duplication): pass
    * `sketchDfCeil` and sketch hashes in more documents than that are
    * dropped before the candidate join, bounding per-hash fan-out by
    * the ceiling instead of the corpus (measured on the 10× ring
    * fixture: 13.1M candidate pairs pure vs 22k at ceil 20). The
    * FULL-side relation is untouched, so shared counts — and therefore
    * containment values — of surviving candidates stay exact; the only
    * loss is a pair whose every bottom-k witness is corpus-hot, which
    * by the ceiling's premise was not subset evidence. qd22 gates the
    * pure form, qd26 the capped production form. */
  private[graft] def containmentFrom(
      docs: DataFrame, tau: Double = ContainTau,
      sketchDfCeil: Option[Int] = None): DataFrame =
    containmentPairs(docs, tau, sketchDfCeil)._1.drop("a_n", "b_n")

  /** qd22's pairs, also carrying both sides' distinct-shingle counts
    * (`a_n`, `b_n`), and the per-doc (doc_id, n_sh) sizes they came
    * from — the containment policy (qd24) reads both. */
  private def containmentPairs(
      docs: DataFrame, tau: Double,
      sketchDfCeil: Option[Int]): (DataFrame, DataFrame) = {
    import docs.sparkSession.implicits._
    // five consumers (sizes, hot, candidate join, both sides of the
    // shared count) read the one explode
    val sh = shingleRelation(docs)
    // the explode is distinct per doc, so the bottom-k sketch is
    // derivable from sh itself (no second decode pass): per-doc sort
    // of the distinct hashes, keep the k smallest. Sizes and the sketch
    // come from ONE aggregation, materialized: left lazy, column
    // pruning would split its two consumers back into two
    // groupBy(doc_id) passes that no exchange reuse can merge.
    val perDoc = graft.Materialize(sh.groupBy($"doc_id").agg(
      count(lit(1)).as("n_sh"),
      slice(sort_array(collect_list($"sh")), 1, BottomK).as("bks")))
    val sizes = perDoc.select($"doc_id", $"n_sh")
    val bk0 = perDoc
      .select($"doc_id".as("bk_id"), explode($"bks").as("sh"))
    val bk = sketchDfCeil.fold(bk0) { ceil =>
      val hot = sh.groupBy($"sh").agg(count(lit(1)).as("df"))
        .filter($"df" > ceil).select($"sh")
      bk0.join(hot, Seq("sh"), "left_anti")
    }
    // Candidate pairs are small by construction (sketch-selected) but
    // their derivation is not, and both semi prefilters and the
    // shared-count join read them: materialized, so the sketch join
    // runs once.
    val cand = graft.Materialize(bk.join(sh.as("o"), Seq("sh"))
      .filter($"bk_id" =!= col("o.doc_id"))
      .select(least($"bk_id", col("o.doc_id")).as("a_id"),
        greatest($"bk_id", col("o.doc_id")).as("b_id"))
      .distinct())
    // guide §3.2: semi-filter BOTH sides of the shared-count join to
    // candidate ids before the exchange — candidates are sketch-
    // selected and sparse, the full corpus explode is not.
    // Result-identical: a semi join only removes rows with no partner.
    val shA = sh.join(cand.select($"a_id").distinct(),
      sh("doc_id") === col("a_id"), "left_semi")
    val shB = sh.join(cand.select($"b_id").distinct(),
      sh("doc_id") === col("b_id"), "left_semi")
    val shared = cand
      .join(shA.as("sa"), col("a_id") === col("sa.doc_id"))
      .join(shB.as("sb"), col("b_id") === col("sb.doc_id") &&
        col("sa.sh") === col("sb.sh"))
      .groupBy($"a_id", $"b_id")
      .agg(count(lit(1)).as("shared"))
    val pairs = shared
      .join(sizes.as("na"), col("a_id") === col("na.doc_id"))
      .join(sizes.as("nb"), col("b_id") === col("nb.doc_id"))
      .select($"a_id", $"b_id", $"shared",
        col("na.n_sh").as("a_n"), col("nb.n_sh").as("b_n"),
        round($"shared".cast("double") /
          least(col("na.n_sh"), col("nb.n_sh")), 6).as("containment"),
        round($"shared".cast("double") /
          (col("na.n_sh") + col("nb.n_sh") - $"shared"), 6).as("jaccard"))
      .filter($"containment" >= tau)
    (pairs, sizes)
  }

  private def containment(s: SparkSession, dir: String): DataFrame =
    containmentFrom(Tables(s, dir).documents)
      .orderBy(col("a_id"), col("b_id"))

  private val containmentSql = {
    val hashed =
      "list_distinct(list_transform(shs, x -> substr(md5(x), 1, 16)))"
    s"""WITH w AS ($wsSqlCte),
       |s AS ($shinglesSql),
       |sh AS (SELECT doc_id, unnest($hashed) AS sh FROM s),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
       |bk AS (SELECT doc_id AS bk_id,
       |    unnest(list_sort($hashed)[1:$BottomK]) AS sh FROM s),
       |cand AS (
       |  SELECT DISTINCT least(bk_id, o.doc_id) AS a_id,
       |    greatest(bk_id, o.doc_id) AS b_id
       |  FROM bk JOIN sh o USING (sh) WHERE bk_id <> o.doc_id),
       |shared AS (
       |  SELECT a_id, b_id, count(*) AS shared
       |  FROM cand
       |  JOIN sh sa ON a_id = sa.doc_id
       |  JOIN sh sb ON b_id = sb.doc_id AND sa.sh = sb.sh
       |  GROUP BY a_id, b_id)
       |SELECT a_id, b_id, shared,
       |  round(shared::DOUBLE / least(na.n_sh, nb.n_sh), 6) AS containment,
       |  round(shared::DOUBLE / (na.n_sh + nb.n_sh - shared), 6) AS jaccard
       |FROM shared
       |JOIN sizes na ON a_id = na.doc_id
       |JOIN sizes nb ON b_id = nb.doc_id
       |WHERE round(shared::DOUBLE / least(na.n_sh, nb.n_sh), 6)
       |  >= $ContainTau
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** Sketch-side df ceiling for qd26 — a shingle in more than this
    * many documents is corpus-common and cannot evidence subset
    * duplication. 20 leaves the small fixtures' profiles untouched
    * (max df 9), mildly binds at sf0.1 (df up to 25) and is the scale
    * guard at the 10× ring (df up to 250). */
  private val CapDfCeil = 20

  /** qd26: qd22's bottom-k containment with the sketch-side df
    * ceiling — the production form of the operator at corpus scale. */
  private def containmentCapped(s: SparkSession, dir: String): DataFrame =
    containmentFrom(Tables(s, dir).documents,
        sketchDfCeil = Some(CapDfCeil))
      .orderBy(col("a_id"), col("b_id"))

  private val containmentCappedSql = {
    val hashed =
      "list_distinct(list_transform(shs, x -> substr(md5(x), 1, 16)))"
    s"""WITH w AS ($wsSqlCte),
       |s AS ($shinglesSql),
       |sh AS (SELECT doc_id, unnest($hashed) AS sh FROM s),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
       |hot AS (SELECT sh FROM sh GROUP BY sh
       |        HAVING count(*) > $CapDfCeil),
       |bk AS (SELECT doc_id AS bk_id,
       |    unnest(list_sort($hashed)[1:$BottomK]) AS sh FROM s),
       |bkc AS (SELECT bk_id, sh FROM bk ANTI JOIN hot USING (sh)),
       |cand AS (
       |  SELECT DISTINCT least(bk_id, o.doc_id) AS a_id,
       |    greatest(bk_id, o.doc_id) AS b_id
       |  FROM bkc JOIN sh o USING (sh) WHERE bk_id <> o.doc_id),
       |shared AS (
       |  SELECT a_id, b_id, count(*) AS shared
       |  FROM cand
       |  JOIN sh sa ON a_id = sa.doc_id
       |  JOIN sh sb ON b_id = sb.doc_id AND sa.sh = sb.sh
       |  GROUP BY a_id, b_id)
       |SELECT a_id, b_id, shared,
       |  round(shared::DOUBLE / least(na.n_sh, nb.n_sh), 6) AS containment,
       |  round(shared::DOUBLE / (na.n_sh + nb.n_sh - shared), 6) AS jaccard
       |FROM shared
       |JOIN sizes na ON a_id = na.doc_id
       |JOIN sizes nb ON b_id = nb.doc_id
       |WHERE round(shared::DOUBLE / least(na.n_sh, nb.n_sh), 6)
       |  >= $ContainTau
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** qd24: containment KEEP-LIST — the deletion POLICY on top of
    * qd22's signal: a document ≥τ-contained in a LARGER document (by
    * distinct-shingle count; ties keep the smaller doc_id) is an
    * excerpt/quote/near-subset and is dropped; maximal documents
    * survive. This is the policy Jaccard-based keep-lists (qd08/qd09)
    * cannot express — a 40%-of-the-big-doc excerpt has low Jaccard but
    * containment 1.0 — and the direction rule (drop the SMALLER side)
    * is what makes it safe: the full document always survives its own
    * excerpts. Scale shape = qd22's (bottom-k candidates, 16-hex
    * hashes on the wire) plus one size join and one count per
    * contained doc. */
  /** (doc_id, nc) of documents to DROP under the containment policy:
    * the contained side of each qd22 pair (smaller distinct-shingle
    * count; equal-size ties drop the larger doc_id). Shared by the
    * qd24 gate and the curate funnel's `--containment` stage. */
  private[graft] def containmentDropped(
      docs: DataFrame, tau: Double = ContainTau,
      sketchDfCeil: Option[Int] = None): DataFrame =
    droppedFrom(containmentPairs(docs, tau, sketchDfCeil)._1)

  /** The contained side of each [[containmentPairs]] row, counted. */
  private def droppedFrom(pairs: DataFrame): DataFrame =
    pairs
      .select(when(col("a_n") < col("b_n"), col("a_id"))
        .when(col("b_n") < col("a_n"), col("b_id"))
        .otherwise(greatest(col("a_id"), col("b_id"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("nc"))

  private def containmentKeep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (pairs, sizes) =
      containmentPairs(Tables(s, dir).documents, ContainTau, None)
    sizes.join(droppedFrom(pairs), Seq("doc_id"), "left")
      .select($"doc_id", $"n_sh",
        coalesce($"nc", lit(0L)).as("n_containers"),
        when($"nc".isNull, 1).otherwise(0).as("kept"))
      .orderBy($"doc_id")
  }

  private val containmentKeepSql = {
    val pairs = containmentSql.replace("ORDER BY a_id, b_id", "")
    val hashed =
      "list_distinct(list_transform(shs, x -> substr(md5(x), 1, 16)))"
    s"""WITH p AS (SELECT * FROM ($pairs) q),
       |w AS ($wsSqlCte),
       |s AS ($shinglesSql),
       |sh2 AS (SELECT doc_id, unnest($hashed) AS sh FROM s),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh2 GROUP BY 1),
       |ct AS (
       |  SELECT CASE WHEN na.n_sh < nb.n_sh THEN p.a_id
       |              WHEN nb.n_sh < na.n_sh THEN p.b_id
       |              ELSE greatest(p.a_id, p.b_id) END AS doc_id,
       |    count(*) AS nc
       |  FROM p
       |  JOIN sizes na ON p.a_id = na.doc_id
       |  JOIN sizes nb ON p.b_id = nb.doc_id
       |  GROUP BY 1)
       |SELECT s2.doc_id, s2.n_sh,
       |  coalesce(ct.nc, 0)::BIGINT AS n_containers,
       |  CASE WHEN ct.doc_id IS NULL THEN 1 ELSE 0 END AS kept
       |FROM sizes s2 LEFT JOIN ct USING (doc_id)
       |ORDER BY s2.doc_id""".stripMargin
  }

  /** 64-bit SimHash over word hashes (first 16 md5 hex digits → Long;
    * per-bit ±1 vote; sign → bit). Single-pass JVM kernel
    * ([[graft.functions.SimHash]]) — the 64-aggregate HOF form runs
    * interpreted; equality of the two forms is asserted in spec. */
  private def simhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.functions.SimHash.signatures(
      Tables(s, dir).documents.select($"doc_id", $"text"))
      .orderBy($"doc_id")
  }

  /** DuckDB mirror of the 64-bit kernel. Per word: md5 hex → 16 nibble
    * values; bit b of the implied big-endian 64-bit value lives in
    * 1-based nibble (16 - b/4) at in-nibble position (b%4). The bit-63
    * term uses the min-Long literal (1<<63 overflows DuckDB's checked
    * shift); every partial sum stays in BIGINT range. */
  private val simhashSql = {
    val nibbles = (1 to 16)
      .map(j => s"strpos('0123456789abcdef', substr(h, $j, 1)) - 1")
      .mkString("[", ", ", "]")
    def vote(b: Int) = {
      val idx = 16 - b / 4
      val sh = b % 4
      s"""list_sum(list_transform(nbs,
         |   ns -> CASE WHEN (ns[$idx] >> $sh) & 1 = 1 THEN 1 ELSE -1 END)) > 0"""
        .stripMargin
    }
    val bit63 =
      s"CASE WHEN ${vote(63)} THEN -9223372036854775807 - 1 ELSE 0 END"
    val bits = bit63 +: (0 to 62).map { b =>
      s"CASE WHEN ${vote(b)} THEN ${1L << b} ELSE 0 END"
    }
    s"""SELECT doc_id, (${bits.mkString("\n + ")})::BIGINT AS simhash
       |FROM (
       |  SELECT doc_id, list_transform(
       |    list_transform(string_split(lower(text), ' '), w -> md5(w)),
       |    h -> $nibbles) AS nbs
       |  FROM documents) t
       |ORDER BY doc_id""".stripMargin
  }

  // Embedding near-dup LSH parameters: 12 tables × 8-bit signatures.
  // 2^8 buckets/table is the fixture setting (pinned so the oracle's
  // inlined plane literals stay stable) — at 100 TB the signature
  // width is the [[embedBitsFor]] scale knob; the plan shape (narrow
  // signature pass → bucket equi-join → verify) is unchanged.
  private val EmbTables = 12
  private val EmbBits = 8
  private val EmbDim = 64

  /** The signature-width scale rule, measured in SCALE.md's bucket-
    * balance probe: `bits = ⌈log2(n / bucketTarget)⌉` keeps expected
    * bucket occupancy near `bucketTarget`, so candidate pairs grow
    * ~linearly in n instead of quadratically once n passes
    * 2^bits·bucketTarget. Floor of 8 = the fixture pin. Computed with
    * integer arithmetic (smallest b with 2^b·bucketTarget ≥ n — the
    * same ceiling, minus float fuzz at exact powers of two) so the
    * qd20 oracle replays the choice exactly in SQL. */
  def embedBitsFor(n: Long, bucketTarget: Int = 16): Int = {
    require(bucketTarget >= 1, s"bucketTarget $bucketTarget")
    var b = 8
    while (b < 62 && (1L << b) * bucketTarget < n) b += 1
    b
  }

  /** qd06's candidate stage with the width knob exposed: per-table
    * hyperplane signatures → bucket equi-join → distinct (a_id, b_id)
    * pairs. Shuffles only (vec_id, bucket-int) — embeddings never enter
    * the shuffle. Used by the gate query (bits = EmbBits) and the
    * SCALE.md probe (bits from [[embedBitsFor]]). */
  def embCandidates(
      e: DataFrame, tables: Int, bits: Int, dim: Int): DataFrame = {
    val sigs = graft.functions.PlaneLSH
      .signatures(e, "vec_id", "embedding", tables, bits, dim)
    val buckets = sigs.select(col("vec_id"), explode(array(
      (0 until tables).map(t0 =>
        col(s"sig$t0") + lit(t0.toLong << bits)): _*)).as("bkt"))
    buckets.as("x")
      .join(buckets.as("y"), col("x.bkt") === col("y.bkt") &&
        col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"))
      .distinct()
  }

  /** Embedding cosine near-dup pairs, two-phase: deterministic
    * random-hyperplane LSH candidates (pairs sharing ≥1 of the 12
    * per-table 8-bit signatures) verified by exact cosine > 0.4.
    *
    * Round 1 computed this as a broadcast nested-loop over ALL pairs —
    * an O(n²) scale-killer. The bucketed form shuffles only
    * (vec_id, table·2^bits + sig) ints and verifies cosine strictly
    * within buckets, the same two-phase shape as qd03→qd04. Like every
    * production ANN dedup it is approximate-by-design in the candidate
    * stage: recall at a similarity threshold θ is 1-(1-p^bits)^tables
    * with p = 1-arccos(θ)/π — ≈1 for true near-dups (cos ≥ 0.9), lower
    * at this fixture's loose 0.4 threshold (no fixture pair exceeds
    * 0.61). The md5-derived planes are reproduced verbatim in the
    * DuckDB oracle, so the output (candidates ∩ cos>0.4) is exact,
    * deterministic, and hash-checked; planted-near-dup recall is
    * asserted in SimilaritySpec. */
  private def embedDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = Tables(s, dir)
    val e = t.embeddings.select($"vec_id", $"embedding")
    val cand = embCandidates(e, EmbTables, EmbBits, EmbDim)
    cand
      .join(e.select($"vec_id".as("a_id"), $"embedding".as("ea")), "a_id")
      .join(e.select($"vec_id".as("b_id"), $"embedding".as("eb")), "b_id")
      .select($"a_id", $"b_id",
        round(graft.functions.CosineSimilarity.cosineSim($"ea", $"eb"), 6)
          .as("cos"))
      .filter($"cos" > 0.4)
      .orderBy($"a_id", $"b_id")
  }

  private val embedDupSql = {
    val w = graft.functions.PlaneLSH
      .weightSqlLiterals(EmbTables, EmbBits, EmbDim)
    val wCols = w.indices.map(tp => s"${w(tp)}::DOUBLE[] AS w$tp")
      .mkString(",\n  ")
    def sigExpr(t: Int) = (0 until EmbBits).map { p =>
      s"""CASE WHEN list_sum(list_transform(generate_series(1, $EmbDim),
         |      i -> emb[i] * w${t * EmbBits + p}[i])) > 0
         |  THEN ${1 << p} ELSE 0 END""".stripMargin
    }.mkString(" + ")
    val bktList = (0 until EmbTables)
      .map(t => s"(${sigExpr(t)}) + ${t << EmbBits}").mkString(",\n    ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |w AS (SELECT
       |  $wCols),
       |bkt AS (
       |  SELECT vec_id, unnest([
       |    $bktList]) AS bkt
       |  FROM e, w),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
       |  FROM bkt x JOIN bkt y ON x.bkt = y.bkt AND x.vec_id < y.vec_id),
       |p AS (
       |  SELECT a_id, b_id,
       |    round(list_sum(list_transform(generate_series(1, len(a.emb)),
       |            i -> a.emb[i] * b.emb[i]))
       |      / (sqrt(list_sum(list_transform(generate_series(1, len(a.emb)),
       |            i -> a.emb[i] * a.emb[i])))
       |       * sqrt(list_sum(list_transform(generate_series(1, len(b.emb)),
       |            i -> b.emb[i] * b.emb[i])))), 6) AS cos
       |  FROM cand JOIN e a ON a_id = a.vec_id JOIN e b ON b_id = b.vec_id)
       |SELECT a_id, b_id, cos FROM p WHERE cos > 0.4
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** qd20: embedding near-dup through the PRODUCTION width rule — the
    * path a 100 TB job actually runs, now gated. qd06 pins `EmbBits =
    * 8` so its inlined-plane oracle stays stable, which means the gate
    * certified exactly the fixed-width path users should NOT run at
    * scale (round-10 verdict: at sf1 the 8-bit floor densifies buckets
    * quadratically — 12.2 s, ~19× sf0.1 — while [[embedBitsFor]] is
    * probed near-linear to 1M vectors). Here the signature width comes
    * from the rule itself: `bits = embedBitsFor(count, bucketTarget =
    * 4)` (4 keeps the rule OFF its 8-bit floor from sf0.1 upward — 9
    * bits at 2k vectors, 13 at sf1's 20k — so the gate discriminates
    * the dynamic-width plane indexing, not just the floor), capped at
    * 16 so the oracle's inlined plane set is finite. The oracle
    * replays the width choice in integer SQL (smallest b in [8,16]
    * with 2^b·4 ≥ n) over a 12×16 plane literal pool indexed (t,p) —
    * plane weights depend only on (table, plane, dim) md5 parity,
    * never on the chosen width, so Spark and DuckDB read the same ±1
    * vectors at every width. Count → width is one driver-side scalar
    * (parquet-stats count), the same bounded-collect class as the
    * qs codebooks. Output carries `bits` so the gate also hashes the
    * width decision itself. */
  private val EmbAutoTarget = 4
  private val EmbMaxBits = 16

  private def embedDupAuto(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = Tables(s, dir)
    val e = t.embeddings.select($"vec_id", $"embedding")
    val bits = math.min(EmbMaxBits, embedBitsFor(e.count(), EmbAutoTarget))
    val cand = embCandidates(e, EmbTables, bits, EmbDim)
    cand
      .join(e.select($"vec_id".as("a_id"), $"embedding".as("ea")), "a_id")
      .join(e.select($"vec_id".as("b_id"), $"embedding".as("eb")), "b_id")
      .select($"a_id", $"b_id",
        round(graft.functions.CosineSimilarity.cosineSim($"ea", $"eb"), 6)
          .as("cos"))
      .filter($"cos" > 0.4)
      .select($"a_id", $"b_id", $"cos", lit(bits).as("bits"))
      .orderBy($"a_id", $"b_id")
  }

  private val embedDupAutoSql = {
    // one literal pool indexed (t, p): ws[t*EmbMaxBits + p + 1]; the
    // md5-parity weights are width-independent, so the pool serves any
    // bits ≤ EmbMaxBits
    val w = graft.functions.PlaneLSH
      .weightSqlLiterals(EmbTables, EmbMaxBits, EmbDim)
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |w AS (SELECT [
       |  ${w.mkString(",\n  ")}]::DOUBLE[][] AS ws),
       |b AS (
       |  SELECT coalesce((
       |    SELECT min(bb) FROM generate_series(8, $EmbMaxBits) g(bb)
       |    WHERE (1::BIGINT << bb) * $EmbAutoTarget >=
       |      (SELECT count(*) FROM e)), $EmbMaxBits)::INT AS bits),
       |bkt AS (
       |  SELECT vec_id,
       |    list_sum(list_transform(generate_series(1, bits),
       |      p -> CASE WHEN list_sum(list_transform(
       |             generate_series(1, $EmbDim),
       |             i -> emb[i] * ws[t * $EmbMaxBits + p][i])) > 0
       |        THEN (1::BIGINT << (p - 1)) ELSE 0 END))::BIGINT
       |      + t * (1::BIGINT << bits) AS bkt
       |  FROM e, w, b,
       |    (SELECT unnest(generate_series(0, ${EmbTables - 1})) AS t)),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
       |  FROM bkt x JOIN bkt y ON x.bkt = y.bkt AND x.vec_id < y.vec_id),
       |p AS (
       |  SELECT a_id, b_id,
       |    round(list_sum(list_transform(generate_series(1, len(a.emb)),
       |            i -> a.emb[i] * b.emb[i]))
       |      / (sqrt(list_sum(list_transform(generate_series(1, len(a.emb)),
       |            i -> a.emb[i] * a.emb[i])))
       |       * sqrt(list_sum(list_transform(generate_series(1, len(b.emb)),
       |            i -> b.emb[i] * b.emb[i])))), 6) AS cos
       |  FROM cand JOIN e a ON a_id = a.vec_id JOIN e b ON b_id = b.vec_id)
       |SELECT a_id, b_id, cos, (SELECT bits FROM b) AS bits
       |FROM p WHERE cos > 0.4
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** SimHash near-dup pairs: Manku-table candidate generation
    * ([[graft.functions.SimHash.candidatePairs]] — C(6,3)=20 combo
    * tables over 6 signature blocks, exact for hamming ≤ 3 by
    * pigeonhole, ~2^33 shuffle keyspace) then Hamming verification.
    * The candidate stage is a superset of every hamming-≤3 pair, so the
    * final output equals the brute-force definition — which is what the
    * (fixture-scale) oracle computes. */
  private def simhashPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.functions.SimHash.candidatePairs(simhash(s, dir))
      .select($"a_id", $"b_id", expr("bit_count(sa ^ sb)").as("hamming"))
      .filter($"hamming" <= 3)
      .orderBy($"a_id", $"b_id")
  }

  private val simhashPairsSql = {
    val sigSql = simhashSql.replace("\nORDER BY doc_id", "")
    s"""WITH sig AS ($sigSql)
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  bit_count(xor(a.simhash, b.simhash))::INT AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** Signature-estimated Jaccard over the LSH candidates: the fraction
    * of agreeing minhash components estimates J(a,b) without touching
    * document text — the stage a 100 TB pipeline uses when exact
    * shingle verification (qd04) is too expensive. Integer agreement
    * counts ⇒ exact cross-engine arithmetic. */
  private def minhashEst(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sig = signatures(s, dir)
    val cand = lshPairs(s, dir)
    val hs = (0 until NumHashes)
    val a = sig.select($"doc_id".as("a_id") +:
      hs.map(k => col(s"h$k").as(s"a_h$k")): _*)
    val b = sig.select($"doc_id".as("b_id") +:
      hs.map(k => col(s"h$k").as(s"b_h$k")): _*)
    val agree = hs.map(k =>
      when(col(s"a_h$k") === col(s"b_h$k"), 1).otherwise(0))
      .reduce(_ + _)
    cand.join(a, "a_id").join(b, "b_id")
      .select($"a_id", $"b_id",
        round(agree.cast("double") / NumHashes, 6).as("est_jaccard"))
      .orderBy($"a_id", $"b_id")
  }

  private val minhashEstSql = {
    val agree = (0 until NumHashes)
      .map(k => s"CASE WHEN a.h$k = b.h$k THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""$sigSqlCte,
       |$candSqlCtes
       |SELECT a_id, b_id,
       |  round(($agree)::DOUBLE / $NumHashes, 6) AS est_jaccard
       |FROM cand JOIN sig a ON a_id = a.doc_id JOIN sig b ON b_id = b.doc_id
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** qd15: INCREMENTAL dedup — the daily-ingest shape. The corpus
    * (even doc_ids, standing in for the already-deduped lake) keeps its
    * signature index; only the increment (odd doc_ids) is new. A new
    * doc is a duplicate if any LSH band matches a corpus doc OR an
    * EARLIER new doc (id order = arrival order) with signature-
    * estimated Jaccard ≥ 0.5. At 100 TB this is the whole point of
    * signature indexes: the daily join touches |increment| × bands
    * rows against a bucketed corpus index — never the corpus text,
    * never corpus×corpus. */
  private def incrementalDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    incrementalFrom(signatures(s, dir), isNew = col("doc_id") % 2 === 1)
      .orderBy($"new_id")
  }

  /** qd15 core over any signature frame.
    * `isNew` partitions the docs into standing corpus (false) and
    * increment (true); candidates are new-vs-corpus plus
    * new-vs-earlier-new (id order = arrival order).
    *
    * `bucketCap` (qd31, the production posture): the round-17 sf30
    * ring caught the uncapped band join super-linear — a hot band
    * (boilerplate family) holds ∝sf members on BOTH the new and index
    * sides, so its candidate pairs grow sf² (solo sf10→sf30: wall
    * 28.6 → 140.2 s, shuffle 3.0 → 17.5 GB at 5.8× per 3× data,
    * spill 0 → 129 GB, peak task mem 1.1 GB). With the qd27 ceiling,
    * bands above the cap (counted over corpus ∪ increment) drop
    * whole — members still pair through their selective bands, and
    * `n_cands` reports the capped candidate count (the documented
    * loss, never a silent one). */
  private[graft] def incrementalFrom(
      sig: DataFrame, isNew: Column,
      bucketCap: Option[Int] = None): DataFrame = {
    import sig.sparkSession.implicits._
    val allBands = sig.select($"doc_id" +: bandCols: _*)
      .select($"doc_id", explode(array(
        (0 until NumBands).map(b => col(s"band$b")): _*)).as("band"))
    val bands = bucketCap match {
      case Some(cap) =>
        // cap <= 0 would mark every bucket hot and silently disable
        // the stage — fail loudly (the qd27/qc08 posture)
        require(cap > 0, s"lsh bucket cap must be positive, got $cap")
        val hot = allBands.groupBy($"band")
          .agg(count(lit(1)).as("m")).filter($"m" > cap)
          .select($"band")
        allBands.join(hot, Seq("band"), "left_anti")
      case None => allBands
    }
    val newBands = bands.filter(isNew)
      .select($"doc_id".as("new_id"), $"band")
    val indexBands = bands // corpus ∪ earlier increment
      .withColumn("__is_new", isNew)
      .select($"doc_id".as("cand_id"), $"band", $"__is_new")
    val cand = newBands.join(indexBands,
      newBands("band") === indexBands("band") &&
        (!col("__is_new") || col("cand_id") < col("new_id")))
      .select($"new_id", $"cand_id").distinct()
    val hs = 0 until NumHashes
    val a = sig.select($"doc_id".as("new_id") +:
      hs.map(k => col(s"h$k").as(s"a_h$k")): _*)
    val b = sig.select($"doc_id".as("cand_id") +:
      hs.map(k => col(s"h$k").as(s"b_h$k")): _*)
    val agree = hs.map(k =>
      when(col(s"a_h$k") === col(s"b_h$k"), 1).otherwise(0))
      .reduce(_ + _)
    val verified = cand.join(a, "new_id").join(b, "cand_id")
      .select($"new_id", $"cand_id", agree.as("n_agree"))
    val newDocs = sig.filter(isNew)
      .select($"doc_id".as("new_id"))
    newDocs.join(verified, Seq("new_id"), "left")
      .groupBy($"new_id")
      .agg(
        count($"cand_id").as("n_cands"),
        max(when($"n_agree" >= NumHashes / 2, 1).otherwise(0))
          .as("dup_flag"),
        min(when($"n_agree" >= NumHashes / 2, $"cand_id")).as("match_min"))
      .select($"new_id", $"n_cands",
        coalesce($"dup_flag", lit(0)).as("is_dup"),
        coalesce($"match_min", lit(-1L)).as("match_id"))
  }

  /** qd31: qd15 with the qd27 hot-band ceiling — the 100 TB posture
    * of incremental near-dup dedup (see [[incrementalFrom]]'s
    * bucketCap note for the measured sf30 quadratic it removes). */
  private def incrementalDedupCapped(s: SparkSession,
      dir: String): DataFrame = {
    import s.implicits._
    incrementalFrom(signatures(s, dir),
      isNew = col("doc_id") % 2 === 1,
      bucketCap = Some(LshBucketCap))
      .orderBy($"new_id")
  }

  private val incrementalDedupCappedSql = {
    val bandExprs = (0 until NumBands).map(bandSql).mkString(",\n    ")
    val agree = (0 until NumHashes)
      .map(k => s"CASE WHEN a.h$k = b.h$k THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""$sigSqlCte,
       |bands AS (
       |  SELECT doc_id,
       |    $bandExprs
       |  FROM sig),
       |eb AS (
       |  SELECT doc_id, unnest([${(0 until NumBands)
        .map(b => s"band$b").mkString(", ")}]) AS band
       |  FROM bands),
       |hot AS (SELECT band FROM eb GROUP BY band
       |        HAVING count(*) > $LshBucketCap),
       |ebk AS (SELECT doc_id, band FROM eb ANTI JOIN hot USING (band)),
       |cand AS (
       |  SELECT DISTINCT n.doc_id AS new_id, i.doc_id AS cand_id
       |  FROM ebk n JOIN ebk i ON n.band = i.band
       |   AND n.doc_id % 2 = 1
       |   AND (i.doc_id % 2 = 0 OR i.doc_id < n.doc_id)),
       |ver AS (
       |  SELECT new_id, cand_id, ($agree) AS n_agree
       |  FROM cand JOIN sig a ON new_id = a.doc_id
       |            JOIN sig b ON cand_id = b.doc_id)
       |SELECT s.doc_id AS new_id, count(cand_id) AS n_cands,
       |  coalesce(max(CASE WHEN n_agree >= ${NumHashes / 2} THEN 1
       |    ELSE 0 END), 0) AS is_dup,
       |  coalesce(min(CASE WHEN n_agree >= ${NumHashes / 2} THEN cand_id
       |    END), -1)::BIGINT AS match_id
       |FROM sig s LEFT JOIN ver ON s.doc_id = ver.new_id
       |WHERE s.doc_id % 2 = 1
       |GROUP BY s.doc_id ORDER BY new_id""".stripMargin
  }

  private val incrementalDedupSql = {
    val bandExprs = (0 until NumBands).map(bandSql).mkString(",\n    ")
    val agree = (0 until NumHashes)
      .map(k => s"CASE WHEN a.h$k = b.h$k THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""$sigSqlCte,
       |bands AS (
       |  SELECT doc_id,
       |    $bandExprs
       |  FROM sig),
       |eb AS (
       |  SELECT doc_id, unnest([${(0 until NumBands)
        .map(b => s"band$b").mkString(", ")}]) AS band
       |  FROM bands),
       |cand AS (
       |  SELECT DISTINCT n.doc_id AS new_id, i.doc_id AS cand_id
       |  FROM eb n JOIN eb i ON n.band = i.band
       |   AND n.doc_id % 2 = 1
       |   AND (i.doc_id % 2 = 0 OR i.doc_id < n.doc_id)),
       |ver AS (
       |  SELECT new_id, cand_id, ($agree) AS n_agree
       |  FROM cand JOIN sig a ON new_id = a.doc_id
       |            JOIN sig b ON cand_id = b.doc_id)
       |SELECT s.doc_id AS new_id, count(cand_id) AS n_cands,
       |  coalesce(max(CASE WHEN n_agree >= ${NumHashes / 2} THEN 1
       |    ELSE 0 END), 0) AS is_dup,
       |  coalesce(min(CASE WHEN n_agree >= ${NumHashes / 2} THEN cand_id
       |    END), -1)::BIGINT AS match_id
       |FROM sig s LEFT JOIN ver ON s.doc_id = ver.new_id
       |WHERE s.doc_id % 2 = 1
       |GROUP BY s.doc_id ORDER BY new_id""".stripMargin
  }

  /** qd28: BLOOM-PREFILTERED exact incremental dedup — the other half
    * of the daily-ingest story (qd15 is the NEAR-dup half). The corpus
    * ("lake", even doc_ids — standing in for an already-deduped 100 TB
    * store) is matched against the increment ("batch", odd doc_ids) on
    * an exact prefix fingerprint (md5 of the first 5 lowercased words —
    * the boilerplate/lead fingerprint an ingest gate dedups on).
    *
    * The scale pattern is the point: a Bloom filter is built over the
    * BATCH fingerprints (the small side — |daily batch| keys at 3% fpp
    * is ~7.5 bits/key: 10 M docs ≈ 9 MB) and broadcast to the lake
    * scan, so the join SHUFFLE moves only lake rows that might match —
    * expected |matches| + fpp·|lake| rows instead of all of the lake.
    * At 100 TB the shuffle, not the scan, is the bottleneck a runtime
    * filter removes; this is the explicit, deterministic spelling of
    * what Spark's InjectRuntimeFilter does for eligible joins. Bloom
    * false positives only ADMIT extra rows into the exact equi-join
    * that follows, so the RESULT is exactly the oracle's join — the
    * bloom is invisible to correctness (BloomIncrementalSpec pins
    * both the pruning and the invisibility). Complementary to qd14,
    * which builds an ORACLE-REPRODUCIBLE md5-bit filter and audits its
    * false-positive rate as data; here the filter is the engine-native
    * `stat.bloomFilter` sketch and only its JOIN-PRUNING effect is
    * observable.
    *
    * Within-batch earlier-arrival dups (id order = arrival order, the
    * qd15 contract) are found with a window over the fingerprint —
    * one shuffle of the batch, never a self-join. */
  private def bloomIncremental(s: SparkSession, dir: String): DataFrame =
    // capacity = the GATE corpus's batch ceiling (sf10 = 250k odd
    // docs), not the library's 1M API default: each ladder tier holds
    // a per-task aggregation buffer of ~bits(capacity), so a blind 1M
    // ceiling ships ~1 MB per task through the partial/final merge —
    // a measurable constant on a 0.5 s row. Real ingest gates size
    // this from their batch envelope the same way.
    bloomIncrementalFrom(Tables(s, dir).documents,
      isNew = col("doc_id") % 2 === 1,
      capacity = 250000L)
      .orderBy(col("new_id"))

  /** md5 prefix fingerprint: first `n` words of the lowercased text.
    * NULL-PRESERVING: Spark's concat_ws would map a null text to ""
    * (joinable md5 of the empty string) where SQL's array_to_string
    * yields NULL (never joins) — the explicit null gate keeps both
    * engines on SQL semantics: a null text has no fingerprint and can
    * never be anyone's duplicate. */
  private def prefixFingerprint(text: Column, n: Int): Column =
    when(text.isNotNull,
      md5(to_binary(concat_ws(" ", slice(split(lower(text), " "), 1, n)),
        lit("utf-8"))))

  /** Sketch sizing for [[bloomIncrementalFrom]]'s fused aggregate: the
    * single-pass build can't size from an exact pre-count, so
    * `capacity` is the CEILING (a daily-ingest gate knows its batch
    * envelope) and the one pass builds a small GRADUATED LADDER of
    * sketches (capacity/100, capacity/10, capacity — three cheap
    * xxhash64 updates per row in the same aggregate), picking the
    * smallest tier whose capacity covers the observed count. A blind
    * single-capacity sketch must be sized for the ceiling, which ships
    * a ~1 MB literal with every task even when the batch is 2k keys
    * (stamped as a qd28 regression by the r15 bench radar — ~+0.3 s at
    * sf0.1); the ladder keeps the literal proportional to the batch
    * while staying one job. An UNDERSIZED sketch (batch above the
    * ceiling) only raises the false-positive rate — more lake rows
    * admitted into the exact equi-join — and can never change the
    * result. 3% fpp ⇒ ~7.3 bits/key. */
  private[graft] val BloomBatchCapacity = 1000000L
  private[graft] def bloomNumBits(capacity: Long, fpp: Double): Long =
    math.ceil(-capacity * math.log(fpp) /
      (math.log(2) * math.log(2))).toLong
  private[graft] def bloomTiers(capacity: Long): Seq[Long] =
    Seq(capacity / 100, capacity / 10, capacity)
      .map(math.max(_, 1000L)).distinct

  /** qd28 core over any (doc_id, text) frame — shared with the spec,
    * which also calls it with the bloom stage instrumented. */
  private[graft] def bloomIncrementalFrom(
      docs: DataFrame, isNew: Column,
      onLakeSurvivors: DataFrame => DataFrame = identity,
      capacity: Long = BloomBatchCapacity): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    import org.apache.spark.sql.GraftShim.{column => toCol, expression => toExpr}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.BinaryType
    val hashed = docs.select($"doc_id", isNew.as("__is_new"),
      prefixFingerprint($"text", 5).as("ch"))
    val batch = hashed.filter($"__is_new")
      .select($"doc_id".as("new_id"), $"ch")
    // bloom over the BATCH side (small), built in ONE pass: a fused
    // aggregate returns (count, sketch) together — the count decides
    // the empty-batch short-circuit, the sketch feeds the lake filter.
    // Catalyst's BloomFilterAggregate hashes values through xxhash64
    // longs (the runtime-filter wire format), so the probe below can
    // be the codegen'd BloomFilterMightContain expression, not a UDF.
    // Both run on the NON-NULL fingerprints: the aggregate yields a
    // null sketch whenever it sees zero non-null values — an empty
    // increment OR an all-null-text one must both short-circuit to
    // the trivial no-dups result
    val keyedBatch = batch.filter($"ch".isNotNull)
    val tiers = bloomTiers(capacity)
    val sketchCols = tiers.zipWithIndex.map { case (cap, i) =>
      toCol(new BloomFilterAggregate(
        toExpr(xxhash64($"ch")),
        Literal(cap), Literal(bloomNumBits(cap, 0.03)))
        .toAggregateExpression()).as(s"bloom$i")
    }
    val fused = keyedBatch
      .agg(count($"ch").as("n"), sketchCols: _*).head()
    val nKeyed = fused.getLong(0)
    if (nKeyed == 0)
      return batch.select($"new_id", lit(0).as("is_dup"),
        lit(-1L).as("match_id"))
    // smallest tier that covers the observed count; the top tier
    // otherwise (over-ceiling batches degrade fpp, never correctness)
    val tier = tiers.indexWhere(_ >= nKeyed) match {
      case -1 => tiers.length - 1
      case i => i
    }
    val bloomBytes = fused.getAs[Array[Byte]](1 + tier)
    // the serialized sketch rides the plan as a binary literal — the
    // same transport InjectRuntimeFilter's materialized subquery uses.
    // Null fingerprints (null text, per prefixFingerprint's null gate)
    // can never equi-join; the explicit isNotNull gate keeps them out
    // of the probe (xxhash64 would otherwise map null to its seed)
    val mightContain = toCol(BloomFilterMightContain(
      Literal(bloomBytes, BinaryType), toExpr(xxhash64($"ch"))))
    val lakeSurvivors = onLakeSurvivors(
      hashed.filter(!$"__is_new")
        .filter($"ch".isNotNull && mightContain))
    // exact equi-join on survivors removes bloom false positives
    val lakeMatch = batch.join(lakeSurvivors, "ch")
      .groupBy($"new_id").agg(min($"doc_id").as("lake_id"))
    // within-batch earlier arrivals: window, not a self-join. Null
    // fingerprints (null text) bypass the window entirely: SQL equality
    // never matches NULL, and routing them around also keeps a
    // null-heavy corpus from piling into one window partition
    val earlier = Window.partitionBy($"ch").orderBy($"new_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val withKey = batch.filter($"ch".isNotNull)
      .withColumn("earlier_id", min($"new_id").over(earlier))
    val nullKey = batch.filter($"ch".isNull)
      .withColumn("earlier_id", lit(null).cast("long"))
    withKey.unionByName(nullKey)
      .join(lakeMatch, Seq("new_id"), "left")
      .select($"new_id",
        when($"lake_id".isNotNull || $"earlier_id".isNotNull, 1)
          .otherwise(0).as("is_dup"),
        coalesce(least($"lake_id", $"earlier_id"), lit(-1L))
          .as("match_id"))
  }

  private val bloomIncrementalSql =
    """WITH h AS (
      |  SELECT doc_id,
      |    md5(array_to_string(
      |      list_slice(string_split(lower(text), ' '), 1, 5), ' ')) AS ch
      |  FROM documents),
      |b AS (SELECT doc_id AS new_id, ch FROM h WHERE doc_id % 2 = 1),
      |m AS (
      |  SELECT b.new_id, min(o.doc_id) AS match_id
      |  FROM b LEFT JOIN h o
      |    ON o.ch = b.ch AND (o.doc_id % 2 = 0 OR o.doc_id < b.new_id)
      |  GROUP BY b.new_id)
      |SELECT new_id,
      |  (CASE WHEN match_id IS NULL THEN 0 ELSE 1 END)::INT AS is_dup,
      |  coalesce(match_id, -1)::BIGINT AS match_id
      |FROM m ORDER BY new_id""".stripMargin

  /** qd16: SPLIT HYGIENE — assign every doc a deterministic
    * train/val/test split (md5 bucket: 90/5/5, the qc01 coin — never a
    * seeded RNG) and audit near-dup LEAKAGE across splits: an LSH
    * candidate pair straddling two splits means the eval split shares
    * content with training, the contamination train/test splits exist
    * to prevent. Output = per-split doc counts plus the cross-split
    * pair matrix. At 100 TB the split is a row-narrow scan and the
    * audit reuses the signature join — no new pass over text. */
  private def splitHygiene(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val splits = Tables(s, dir).documents.select($"doc_id",
      when(CurationQueries.bucketCol < 90, "train")
        .when(CurationQueries.bucketCol < 95, "val")
        .otherwise("test").as("split"))
    val docCounts = splits.groupBy($"split").agg(count(lit(1)).as("n"))
      .select(lit("docs").as("kind"), $"split".as("split_a"),
        lit("").as("split_b"), $"n")
    val leaks = lshPairsFrom(signatures(s, dir))
      .join(splits.as("sa"), $"a_id" === col("sa.doc_id"))
      .join(splits.as("sb"), $"b_id" === col("sb.doc_id"))
      .filter(col("sa.split") =!= col("sb.split"))
      .groupBy(col("sa.split").as("split_a"), col("sb.split").as("split_b"))
      .agg(count(lit(1)).as("n"))
      .select(lit("leak").as("kind"), $"split_a", $"split_b", $"n")
    docCounts.unionByName(leaks)
      .orderBy($"kind", $"split_a", $"split_b")
  }

  private val splitHygieneSql = {
    val b = CurationQueries.bucketSql
    s"""$sigSqlCte,
       |$candSqlCtes,
       |sp AS (
       |  SELECT doc_id, CASE WHEN $b < 90 THEN 'train'
       |    WHEN $b < 95 THEN 'val' ELSE 'test' END AS split
       |  FROM documents)
       |SELECT 'docs' AS kind, split AS split_a, '' AS split_b,
       |  count(*) AS n
       |FROM sp GROUP BY 2
       |UNION ALL
       |SELECT 'leak', sa.split, sb.split, count(*)
       |FROM cand JOIN sp sa ON a_id = sa.doc_id
       |          JOIN sp sb ON b_id = sb.doc_id
       |WHERE sa.split <> sb.split GROUP BY 2, 3
       |ORDER BY kind, split_a, split_b""".stripMargin
  }

  /** qd32: qd16 with the qd27 hot-band ceiling on the leak-audit
    * candidate join — the 100 TB posture. The round-17 sf30 ring
    * caught qd16's uncapped `lshPairsFrom` inheriting the same hot-
    * band sf² as qd15 (solo sf10→sf30: 25.1 → 126.0 s, shuffle
    * 1.4 → 11.9 GB at 8.5× per 3× data, spill 0.3 → 150 GB, peak
    * task mem 1.2 GB). Capped, a boilerplate family's cross-split
    * pairs leave the matrix (the qd27 documented loss — its members
    * still leak-count through selective bands); uncapped qd16 stays
    * the exact gate row for sample-scale audits. */
  private def splitHygieneCapped(s: SparkSession,
      dir: String): DataFrame = {
    import s.implicits._
    val splits = Tables(s, dir).documents.select($"doc_id",
      when(CurationQueries.bucketCol < 90, "train")
        .when(CurationQueries.bucketCol < 95, "val")
        .otherwise("test").as("split"))
    val docCounts = splits.groupBy($"split").agg(count(lit(1)).as("n"))
      .select(lit("docs").as("kind"), $"split".as("split_a"),
        lit("").as("split_b"), $"n")
    val leaks = lshPairsCapped(signatures(s, dir))
      .join(splits.as("sa"), $"a_id" === col("sa.doc_id"))
      .join(splits.as("sb"), $"b_id" === col("sb.doc_id"))
      .filter(col("sa.split") =!= col("sb.split"))
      .groupBy(col("sa.split").as("split_a"), col("sb.split").as("split_b"))
      .agg(count(lit(1)).as("n"))
      .select(lit("leak").as("kind"), $"split_a", $"split_b", $"n")
    docCounts.unionByName(leaks)
      .orderBy($"kind", $"split_a", $"split_b")
  }

  private val splitHygieneCappedSql = {
    val b = CurationQueries.bucketSql
    val bandExprs = (0 until NumBands).map(bandSql).mkString(",\n    ")
    s"""$sigSqlCte,
       |bands AS (
       |  SELECT doc_id,
       |    $bandExprs
       |  FROM sig),
       |eb AS (
       |  SELECT doc_id, unnest([${(0 until NumBands)
        .map(bd => s"band$bd").mkString(", ")}]) AS band
       |  FROM bands),
       |hot AS (SELECT band FROM eb GROUP BY band
       |        HAVING count(*) > $LshBucketCap),
       |ebc AS (SELECT doc_id, band FROM eb ANTI JOIN hot USING (band)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM ebc a JOIN ebc b ON a.band = b.band
       |   AND a.doc_id < b.doc_id),
       |sp AS (
       |  SELECT doc_id, CASE WHEN $b < 90 THEN 'train'
       |    WHEN $b < 95 THEN 'val' ELSE 'test' END AS split
       |  FROM documents)
       |SELECT 'docs' AS kind, split AS split_a, '' AS split_b,
       |  count(*) AS n
       |FROM sp GROUP BY 2
       |UNION ALL
       |SELECT 'leak', sa.split, sb.split, count(*)
       |FROM cand JOIN sp sa ON a_id = sa.doc_id
       |          JOIN sp sb ON b_id = sb.doc_id
       |WHERE sa.split <> sb.split GROUP BY 2, 3
       |ORDER BY kind, split_a, split_b""".stripMargin
  }

  /** End-to-end dedup keep-list: drop the higher doc_id of every
    * Jaccard-verified near-dup pair (threshold 0.5) — the pipeline's
    * final output shape (LSH candidates → exact verify → prune). */
  private def keepList(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dupIds = jaccardFrom(Tables(s, dir).documents).select($"b_id").distinct()
    Tables(s, dir).documents
      .join(dupIds, $"doc_id" === $"b_id", "left_anti")
      .select($"doc_id")
      .orderBy($"doc_id")
  }

  private val keepListSql = {
    // reuse the verified-pairs query as a CTE body
    val pairs = jaccardSql
      .replace("ORDER BY a_id, b_id", "")
    s"""SELECT doc_id FROM documents
       |WHERE doc_id NOT IN (SELECT b_id FROM ($pairs) p)
       |ORDER BY doc_id""".stripMargin
  }

  /** Duplicate CLUSTERS via connected components over the verified
    * near-dup pairs (qd04): each doc labeled with the min doc_id of its
    * component; `is_kept` marks the one survivor per cluster. The
    * correct transitive answer where the pairwise keep-list (qd08)
    * over-deletes on chains. Oracle: recursive-CTE label closure. */
  private def dupClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = jaccardFrom(Tables(s, dir).documents).select($"a_id", $"b_id")
    val verts = Tables(s, dir).documents.select($"doc_id".as("id"))
    graft.functions.ConnectedComponents.run(edges, verts)
      .select($"id".as("doc_id"), $"label".as("cluster"),
        when($"id" === $"label", 1).otherwise(0).as("is_kept"))
      .orderBy($"doc_id")
  }

  private val dupClustersSql = {
    val pairs = jaccardSql.replace("ORDER BY a_id, b_id", "")
    s"""WITH RECURSIVE pairs AS (
       |  SELECT a_id, b_id FROM ($pairs) j
       |),
       |e AS (
       |  SELECT a_id AS src, b_id AS dst FROM pairs
       |  UNION ALL
       |  SELECT b_id, a_id FROM pairs
       |),
       |reach(id, label) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT eg.dst, r.label FROM reach r JOIN e eg ON eg.src = r.id
       |)
       |SELECT id AS doc_id, min(label) AS cluster,
       |  CASE WHEN id = min(label) THEN 1 ELSE 0 END AS is_kept
       |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin
  }

  /** The 15-hex-nibble md5-prefix hash space as an exact BIGINT (2^60)
    * — integer sibling of [[KmvSpace]] for threshold arithmetic where
    * a double division would round differently than the oracle's
    * integer `//`. */
  private[graft] val Space60L = 1152921504606846976L

  /** qd23: SOFT deduplication — duplicate-frequency down-weighting
    * instead of deletion (the SoftDeDup / D4 posture: hard dedup
    * discards paraphrase-adjacent coverage; re-weighting keeps every
    * document but makes each duplicate cluster contribute ~one
    * document's worth of expected samples per epoch). Composition:
    * verified near-dup pairs (qd04) → clusters (qd09's CC) → per-doc
    * sampling weight 1e6 div |cluster| ppm → one deterministic epoch
    * realization: keep iff the doc's 60-bit md5 draw falls under
    * 2^60 div |cluster|. Singletons draw against the full space, so
    * they always keep; cluster members survive with probability
    * 1/|cluster| — expected survivors per cluster is exactly 1, the
    * soft analog of qd09's is_kept (which this never over- or
    * under-samples in expectation, only in realization).
    *
    * Scale: adds one (label)-keyed count and one label join on top of
    * qd09 — both move (id, label) pairs only; the epoch draw is a
    * per-row md5 inside the scan, no new corpus pass and nothing
    * non-deterministic (epoch changes = change the salt, not the
    * plan). Oracle: the qd09 recursive-CTE closure + identical
    * integer arithmetic ('0x'-hex BIGINT draw, `//` thresholds). */
  private def softDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = jaccardFrom(Tables(s, dir).documents).select($"a_id", $"b_id")
    val verts = Tables(s, dir).documents.select($"doc_id".as("id"))
    val labeled = graft.functions.ConnectedComponents.run(edges, verts)
      .select($"id".as("doc_id"), $"label".as("cluster"))
    val sized = labeled.groupBy($"cluster").agg(count(lit(1)).as("csize"))
    labeled.join(sized, "cluster")
      .select($"doc_id", $"cluster", $"csize",
        expr("CAST(1000000 AS BIGINT) div csize").as("weight_ppm"),
        conv(substring(md5(to_binary(
          concat($"doc_id".cast("string"), lit(":e0")), lit("utf-8"))),
          1, 15), 16, 10).cast("long").as("draw60"))
      .withColumn("kept",
        expr(s"CASE WHEN draw60 < ($Space60L div csize) " +
          "THEN 1 ELSE 0 END"))
      .orderBy($"doc_id")
  }

  private val softDedupSql = {
    val pairs = jaccardSql.replace("ORDER BY a_id, b_id", "")
    s"""WITH RECURSIVE pairs AS (
       |  SELECT a_id, b_id FROM ($pairs) j
       |),
       |e AS (
       |  SELECT a_id AS src, b_id AS dst FROM pairs
       |  UNION ALL
       |  SELECT b_id, a_id FROM pairs
       |),
       |reach(id, label) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT eg.dst, r.label FROM reach r JOIN e eg ON eg.src = r.id
       |),
       |lab AS (SELECT id AS doc_id, min(label) AS cluster
       |        FROM reach GROUP BY id),
       |sized AS (SELECT cluster, count(*) AS csize FROM lab GROUP BY cluster)
       |SELECT l.doc_id, l.cluster, s.csize,
       |  1000000 // s.csize AS weight_ppm,
       |  ('0x' || substr(md5(l.doc_id::VARCHAR || ':e0'), 1, 15))::BIGINT
       |    AS draw60,
       |  CASE WHEN ('0x' || substr(md5(l.doc_id::VARCHAR || ':e0'), 1, 15))
       |         ::BIGINT < $Space60L // s.csize
       |       THEN 1 ELSE 0 END AS kept
       |FROM lab l JOIN sized s USING (cluster)
       |ORDER BY l.doc_id""".stripMargin
  }

  /** KMV sketch parameters: k minimum values over a 60-bit md5-prefix
    * hash space (15 hex nibbles — fits BIGINT exactly on both engines).
    * Shared with st07's streaming path and the native aggregate so one
    * edit can't silently break their bit-agreement with this oracle. */
  private[graft] val KmvK = 64
  private[graft] val KmvSpace = graft.functions.KmvSketch.Space60

  /** qd13: K-minimum-values distinct-count sketch — per-source distinct
    * bigram cardinality from only the k smallest hash values
    * (Bar-Yossef et al. 2002; the mergeable estimator behind
    * approx-distinct at lake scale, where an exact count(DISTINCT)
    * would shuffle every token). Estimate = (k-1)·2^60 / h_(k), with an
    * exact-count fallback when a group holds fewer than k distincts.
    *
    * Unlike engine-native HLL sketches (whose registers are
    * implementation-defined and can never hash-match an oracle), KMV
    * over md5 is exactly reproducible: both engines sort the same
    * 60-bit integers. The per-group state is k longs — mergeable by
    * union+re-truncate, which is what a 1000-executor partial-agg tree
    * does for free. The estimate arithmetic is (BIGINT→double)
    * correctly-rounded ops, identical across engines.
    *
    * Scale shape: the shuffle moves (source, long) pairs pre-shrunk by
    * per-partition distinct, never text. */
  private def kmvDistinct(s: SparkSession, dir: String): DataFrame =
    kmvDistinctOf(Tables(s, dir).documents)

  /** The (source, 60-bit bigram hash) projection shared by the KMV
    * gate query, the curation sketches and the quality queries. */
  private[graft] def bigramHashes(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val base = docs.select($"source", words($"text").as("ws"))
    base.filter(size($"ws") > 1)
      .select($"source",
        explode(transform(sequence(lit(1), size($"ws") - 1), i =>
          concat_ws(" ", element_at($"ws", i),
            element_at($"ws", i + 1)))).as("bg"))
      .select($"source",
        conv(substring(md5(to_binary($"bg", lit("utf-8"))), 1, 15),
          16, 10).cast("long").as("h"))
  }

  private def kmvDistinctOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val hashed = bigramHashes(docs).distinct()
    val bySrc = Window.partitionBy($"source").orderBy($"h")
    val ranked = hashed
      .withColumn("rnk", row_number().over(bySrc))
      .withColumn("n_distinct",
        count(lit(1)).over(Window.partitionBy($"source")))
    ranked.filter($"rnk" === least(lit(KmvK), $"n_distinct"))
      .select($"source", $"n_distinct", $"h".as("kth_hash"),
        when($"n_distinct" < KmvK, $"n_distinct")
          .otherwise(floor(lit((KmvK - 1).toDouble) * lit(KmvSpace)
            / $"h")).as("est_distinct"))
      .orderBy($"source")
  }

  private val kmvDistinctSql =
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
       |SELECT source, n_distinct, h AS kth_hash,
       |  CASE WHEN n_distinct < $KmvK THEN n_distinct
       |       ELSE floor(${KmvK - 1}.0 * $KmvSpace / h)::BIGINT
       |  END AS est_distinct
       |FROM ranked
       |WHERE rnk = least($KmvK, n_distinct)
       |ORDER BY source""".stripMargin

  /** Bloom parameters: m bits, 2 hashes from disjoint md5 nibbles.
    * Probe terms are fixed corpus words + guaranteed-absent strings. */
  private val BloomBits = 8192
  private val BloomProbes = Seq("spark", "vector", "stream", "merge",
    "zzz_absent_1", "zzz_absent_2", "qqq_absent_3")

  /** qd14: deterministic Bloom-filter membership pre-filter — the
    * constant-space "have we seen this key" gate that fronts exact
    * dedup at lake scale (a new shard's tokens test against yesterday's
    * filter without shuffling yesterday's corpus). Engine-native Bloom
    * builders (`BloomFilter.mightContain`) are implementation-defined
    * bit layouts that can never hash-match an oracle; two md5-nibble
    * hashes into an 8192-bit space are bit-reproducible anywhere, same
    * rationale as qd13's KMV-over-md5.
    *
    * Per (source, probe term): maybe_present (both bits set), the
    * ground truth, and the false-positive flag — the measurable cost of
    * the space saving. The filter build shuffles (source, int) bit
    * indices only, and it is the BUILT FILTER that broadcasts to the
    * probe scan (≤ |sources|·8192 set bits — the whole point of a Bloom
    * filter is that this stays executor-memory-sized at any corpus
    * size); the ground-truth join is the fixture-only audit column a
    * production run would drop. */
  private def bloomPrefilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir).documents
    def bits(term: Column): Column = {
      val h = md5(to_binary(term, lit("utf-8")))
      array(
        (conv(substring(h, 1, 7), 16, 10).cast("long")
          % BloomBits).cast("int"),
        (conv(substring(h, 9, 7), 16, 10).cast("long")
          % BloomBits).cast("int"))
    }
    val tokens = docs
      .select($"source", explode(words($"text")).as("term"))
    val filterBits = tokens
      .select($"source", explode(bits($"term")).as("bit")).distinct()
    val probes = s.createDataset(BloomProbes).toDF("probe")
      .crossJoin(docs.select($"source").distinct())
      .select($"source", $"probe", bits($"probe").as("pb"))
      .select($"source", $"probe",
        element_at($"pb", 1).as("b1"), element_at($"pb", 2).as("b2"))
    val hit1 = filterBits.withColumnRenamed("bit", "b1")
      .withColumn("h1", lit(1))
    val hit2 = filterBits.withColumnRenamed("bit", "b2")
      .withColumn("h2", lit(1))
    val truth = tokens.distinct()
      .withColumnRenamed("term", "probe").withColumn("actual", lit(1))
    probes
      .join(broadcast(hit1), Seq("source", "b1"), "left")
      .join(broadcast(hit2), Seq("source", "b2"), "left")
      .join(truth, Seq("source", "probe"), "left")
      .select($"source", $"probe",
        (coalesce($"h1", lit(0)) * coalesce($"h2", lit(0)))
          .as("maybe_present"),
        coalesce($"actual", lit(0)).as("actual_present"))
      .withColumn("false_positive",
        when($"maybe_present" === 1 && $"actual_present" === 0, 1)
          .otherwise(0))
      .orderBy($"source", $"probe")
  }

  private val bloomPrefilterSql = {
    val probeList = BloomProbes.map(p => s"('$p')").mkString(", ")
    def nib(col: String, from: Int): String =
      (from until from + 7).map { i =>
        val pow = math.pow(16, 6 - (i - from)).toLong
        s"(strpos('0123456789abcdef', substr(md5($col), $i, 1)) - 1) * $pow"
      }.mkString("(", " + ", s") % $BloomBits")
    s"""WITH tokens AS (
       |  SELECT source, unnest(string_split(lower(text), ' ')) AS term
       |  FROM documents),
       |fbits AS (
       |  SELECT DISTINCT source, bit FROM (
       |    SELECT source, ${nib("term", 1)} AS bit FROM tokens
       |    UNION ALL
       |    SELECT source, ${nib("term", 9)} AS bit FROM tokens)),
       |probes AS (
       |  SELECT source, probe, ${nib("probe", 1)} AS b1,
       |    ${nib("probe", 9)} AS b2
       |  FROM (SELECT DISTINCT source FROM documents),
       |    (VALUES $probeList) p(probe)),
       |truth AS (SELECT DISTINCT source, term AS probe FROM tokens)
       |SELECT pr.source, pr.probe,
       |  CASE WHEN EXISTS (SELECT 1 FROM fbits f
       |         WHERE f.source = pr.source AND f.bit = pr.b1)
       |        AND EXISTS (SELECT 1 FROM fbits f
       |         WHERE f.source = pr.source AND f.bit = pr.b2)
       |    THEN 1 ELSE 0 END AS maybe_present,
       |  CASE WHEN EXISTS (SELECT 1 FROM truth t
       |         WHERE t.source = pr.source AND t.probe = pr.probe)
       |    THEN 1 ELSE 0 END AS actual_present,
       |  CASE WHEN EXISTS (SELECT 1 FROM fbits f
       |         WHERE f.source = pr.source AND f.bit = pr.b1)
       |        AND EXISTS (SELECT 1 FROM fbits f
       |         WHERE f.source = pr.source AND f.bit = pr.b2)
       |        AND NOT EXISTS (SELECT 1 FROM truth t
       |         WHERE t.source = pr.source AND t.probe = pr.probe)
       |    THEN 1 ELSE 0 END AS false_positive
       |FROM probes pr ORDER BY pr.source, pr.probe""".stripMargin
  }

  /** Exploded (doc_id, band) row for the streaming keyed-state path. */
  private[graft] case class BandRow(band: String, doc_id: Long)
  /** Per-doc per-band verdict emitted by the stateful operator. */
  private[graft] case class BandMin(doc_id: Long, band_min: Long)

  /** st09: STREAMING LSH near-dup dedup — qd15's incremental-ingest
    * shape as a CONTINUOUS pipeline. Arriving docs are minhash-signed
    * and banded in-stream (stateless mapPartitions — the same kernel as
    * qd02); each band key holds ONE long of keyed state (the band's
    * first-arrival owner), so state is bounded by the number
    * of distinct bands, never by corpus size, and the per-batch work is
    * the batch's own bands only — the standing corpus is never
    * re-scanned. The stateful stage emits (doc_id, band_min) verdicts
    * to the sink; the per-doc reduction (partner = min over its bands;
    * dup iff partner < doc_id) runs as a batch compaction over the sink
    * — the production split between continuous verdict emission and
    * downstream compaction. min() is order-free, so shuffle
    * nondeterminism inside a group can never change the answer.
    *
    * Semantics under MULTI-epoch replay are first-arrival (a doc's
    * verdict is fixed at its arrival epoch; an early original is never
    * retroactively re-labeled — the qd15 incremental contract;
    * EventStreamsSpec pins the exact arrival-order replay). The gate
    * stages the fixture as one AvailableNow epoch, where first-arrival
    * degenerates to the id-min form this oracle checks: earliest
    * co-banded doc, else self. */
  /** The st09 stateful stage over any streaming (doc_id, text) frame —
    * ONE implementation driven by both the gate query and the
    * multi-epoch spec (EventStreamsSpec), so the pinned semantics are
    * the shipped operator's. Each band's keyed state is its OWNER: the
    * min doc_id of the band's FIRST-arrival epoch, never replaced — a
    * later smaller id is flagged dup against the standing owner rather
    * than silently becoming a second original (state = running min
    * would let such a pair escape with both sides marked original). */
  private[graft] def bandVerdicts(
      src: DataFrame): org.apache.spark.sql.Dataset[BandMin] = {
    import src.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val sigs = graft.functions.MinHash.signatures(src, NumHashes)
    sigs.select($"doc_id", explode(array(bandCols: _*)).as("band"))
      .as[BandRow]
      .groupByKey(_.band)
      .flatMapGroupsWithState[Long, BandMin](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, rows, state) =>
          val docs = rows.map(_.doc_id).toVector
          val owner = state.getOption.getOrElse(docs.min)
          if (state.getOption.isEmpty) state.update(owner)
          docs.iterator.map(d => BandMin(d, owner))
      }
  }

  private def streamLshDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stage = CurationQueries.docsStage(s, dir)
    val src = s.readStream.schema(CurationQueries.docsSchema)
      .parquet(stage)
      .select($"doc_id", $"text")
    val name = "stream_lsh_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    graft.streaming.EventStreams
      .runToMemory(s, bandVerdicts(src).toDF(), name,
        statePartitions = Some(4))
      .groupBy($"doc_id")
      .agg(min($"band_min").as("partner_id"))
      .select($"doc_id", $"partner_id",
        when($"partner_id" =!= $"doc_id", 1).otherwise(0).as("is_dup"))
      .orderBy($"doc_id")
  }

  private lazy val streamLshDedupSql =
    s"""$sigSqlCte,
       |$candSqlCtes
       |SELECT d.doc_id,
       |  coalesce(min(c.a_id), d.doc_id)::BIGINT AS partner_id,
       |  CASE WHEN min(c.a_id) IS NOT NULL THEN 1 ELSE 0 END AS is_dup
       |FROM documents d LEFT JOIN cand c ON c.b_id = d.doc_id
       |GROUP BY d.doc_id ORDER BY doc_id""".stripMargin

  /** CDC window width and boundary divisor (expected chunk ≈ Cdc
    * Divisor chars past the window). */
  // single source of truth is the kernel; the oracle SQL and the
  // declarative reference interpolate the same values
  private val CdcWin = graft.functions.Cdc.Win
  private val CdcDiv = graft.functions.Cdc.Div

  /** qd17: content-defined chunking dedup — the storage-grain dedup
    * primitive (LBFS/rsync lineage: Muthitacharoen et al. 2001).
    * Boundaries fall where the rolling window's hash ≡ 0 (mod
    * [[CdcDiv]]), so a byte insertion only reshapes chunks NEAR the
    * edit instead of shifting every fixed-width block — the property
    * that makes chunk-hash dedup robust to near-duplicate documents.
    * The window hash is the first 4 md5 nibbles of the [[CdcWin]]-char
    * window (md5 so the oracle replays it bit-for-bit; a production
    * deployment would swap in gear/Rabin hashing — same plan shape).
    *
    * Everything per-document happens INSIDE one row via array HOFs
    * (boundary scan, chunk slicing) — no explode until chunks exist, so
    * the corpus pass ships (source, 32-hex chunk hash, chunk length)
    * and nothing else; the rollup is an ordinary two-level aggregate.
    * Guard: Spark's sequence(8, len) counts DOWN when len < 8 (DuckDB's
    * generate_series returns empty) — short docs take the whole-doc
    * chunk branch explicitly. */
  private def cdcChunks(s: SparkSession, dir: String): DataFrame =
    cdcStatsOf(Tables(s, dir).documents)

  /** Query-path body over any (source, text) frame. The chunk
    * pass is the [[graft.functions.Cdc]] mapPartitions kernel (one
    * MessageDigest, one pass) — CdcSpec asserts it equals
    * [[cdcStatsDeclarativeOf]] value-for-value, and the DuckDB oracle
    * replays the declarative form. */
  private[graft] def cdcStatsOf(docs: DataFrame): DataFrame =
    cdcRollup(graft.functions.Cdc.chunkFrame(docs))

  /** The declarative Column/HOF form of the same chunk pass — the
    * oracle-shaped reference the kernel is proven against. */
  private[graft] def cdcStatsDeclarativeOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // len > 0 guard: an empty doc has no chunks on either engine
    // (DuckDB's generate_series(2, 1) is empty, Spark's sequence(2, 1)
    // counts DOWN and would drive element_at(bs, 0) — a runtime error)
    val d = docs.select($"source", $"text", length($"text").as("len"))
      .filter($"len" > 0)
    val bounds = d.withColumn("bounds",
      when($"len" >= CdcWin,
        filter(sequence(lit(CdcWin), $"len"), i =>
          conv(substring(md5(to_binary(
            $"text".substr(i - lit(CdcWin - 1), lit(CdcWin)),
            lit("utf-8"))), 1, 4), 16, 10).cast("long") % CdcDiv === 0))
        .otherwise(array().cast("array<int>")))
    val withLen = bounds
      .withColumn("bs", array_sort(array_distinct(
        concat(array(lit(0)), $"bounds", array($"len")))))
      .select($"source", explode(transform(
        sequence(lit(2), size($"bs")), i => struct(
          md5(to_binary($"text".substr(
            element_at($"bs", i - 1) + 1,
            element_at($"bs", i) - element_at($"bs", i - 1)),
            lit("utf-8"))).as("h"),
          (element_at($"bs", i) - element_at($"bs", i - 1))
            .cast("long").as("l")))).as("c"))
      .select($"source", $"c.h".as("chunk_hash"), $"c.l".as("chunk_len"))
    cdcRollup(withLen)
  }

  /** Per-source rollup over an exploded (source, chunk_hash, chunk_len)
    * frame — shared by the kernel and declarative chunk passes. */
  private def cdcRollup(chunks: DataFrame): DataFrame = {
    val s = chunks.sparkSession
    import s.implicits._
    chunks.groupBy($"source")
      .agg(count(lit(1)).as("n_chunks"),
        count_distinct($"chunk_hash").as("n_distinct"),
        sum($"chunk_len").as("n_bytes"))
      .select($"source", $"n_chunks", $"n_distinct", $"n_bytes",
        expr("(1000000 * (n_chunks - n_distinct)) div n_chunks")
          .as("dup_ppm"),
        expr("n_bytes div n_chunks").as("mean_chunk_len"))
      .orderBy($"source")
  }

  private val cdcChunksSql =
    s"""WITH d AS (
       |  SELECT source, text, length(text)::INT AS len FROM documents),
       |b AS (
       |  SELECT source, text, len,
       |    CASE WHEN len >= $CdcWin THEN
       |      list_filter(generate_series($CdcWin, len), i ->
       |        ('0x' || substr(md5(substr(text, i - ${CdcWin - 1},
       |          $CdcWin)), 1, 4))::BIGINT % $CdcDiv = 0)
       |    ELSE [] END AS bounds
       |  FROM d),
       |bs AS (
       |  SELECT source, text,
       |    list_sort(list_distinct(
       |      list_concat(list_concat([0], bounds), [len]))) AS bs
       |  FROM b),
       |ch AS (
       |  SELECT source,
       |    unnest(list_transform(generate_series(2, len(bs)), i -> struct_pack(
       |      h := md5(substr(text, bs[i - 1] + 1, bs[i] - bs[i - 1])),
       |      l := (bs[i] - bs[i - 1])::BIGINT))) AS c
       |  FROM bs),
       |per AS (
       |  SELECT source, count(*)::BIGINT AS n_chunks,
       |    count(DISTINCT c.h)::BIGINT AS n_distinct,
       |    sum(c.l)::BIGINT AS n_bytes
       |  FROM ch GROUP BY source)
       |SELECT source, n_chunks, n_distinct, n_bytes,
       |  ((1000000 * (n_chunks - n_distinct)) // n_chunks)::BIGINT AS dup_ppm,
       |  (n_bytes // n_chunks)::BIGINT AS mean_chunk_len
       |FROM per ORDER BY source""".stripMargin

  /** The swept (bands × rows-per-band) layouts over the same 8-hash
    * signature; (4, 2) is the production layout. */
  private val LshSweep = Seq((8, 1), (4, 2), (2, 4))

  /** qd18: LSH layout tuning harness — for each (bands, rows) split of
    * the signature, measure ON the engine what the S-curve only
    * predicts: candidate volume vs how many candidates survive exact
    * Jaccard verification (precision). More/narrower bands → higher
    * recall, more false candidates; fewer/wider bands → the reverse.
    * This is the measurement that justifies a layout BEFORE a 100 TB
    * dedup run commits to it — candidate count is the run's cost driver
    * and precision is its yield.
    *
    * Scale shape: one signature pass is shared by all swept layouts
    * (the kernel frame feeds each config's band projection); each
    * config's candidate join keys on its own 16-hex band ints; the
    * verify joins are bounded by each config's candidates. Summary is
    * |sweep| rows. */
  private def lshTuning(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sig = signatures(s, dir)
    // the verify side's corpus pass (shingles + sizes) is built ONCE;
    // identical subtrees across the three configs collapse to shared
    // exchanges at runtime (ReuseExchange — a perf reuse, values are
    // oracle-checked regardless)
    val (sh, sizes) = shingleFrames(Tables(s, dir).documents)
    val rows = LshSweep.map { case (nb, bs) =>
      val cand = lshPairsFor(sig, nb, bs)
      val nCand = cand.agg(count(lit(1)).as("n_cand"))
      val nVer = verifyCands(cand, sh, sizes, 0.5)
        .agg(count(lit(1)).as("n_verified"))
      nCand.crossJoin(nVer).select(
        lit(nb).as("bands"), lit(bs).as("rows_per_band"),
        col("n_cand"), col("n_verified"),
        expr("(1000000 * n_verified) div greatest(n_cand, 1L)")
          .as("precision_ppm"))
    }
    rows.reduce(_ unionAll _).orderBy($"bands".desc)
  }

  private lazy val lshTuningSql = {
    val cfgs = LshSweep.zipWithIndex.map { case ((nb, bs), c) =>
      val bandExprs = (0 until nb).map(bandSqlFor(_, bs))
        .mkString(",\n    ")
      val bandList = (0 until nb).map(b => s"band$b").mkString(", ")
      s"""bands_$c AS (
         |  SELECT doc_id,
         |    $bandExprs
         |  FROM sig),
         |eb_$c AS (
         |  SELECT doc_id, unnest([$bandList]) AS band FROM bands_$c),
         |cand_$c AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM eb_$c a JOIN eb_$c b
         |    ON a.band = b.band AND a.doc_id < b.doc_id),
         |ver_$c AS (
         |  SELECT count(*)::BIGINT AS n_verified FROM (
         |    SELECT a_id, b_id
         |    FROM (SELECT a_id, b_id, count(*) AS shared
         |          FROM cand_$c
         |          JOIN sh sa ON a_id = sa.doc_id
         |          JOIN sh sb ON b_id = sb.doc_id AND sa.sh = sb.sh
         |          GROUP BY a_id, b_id) sh2
         |    JOIN sizes na ON a_id = na.doc_id
         |    JOIN sizes nb2 ON b_id = nb2.doc_id
         |    WHERE round(shared::DOUBLE
         |      / (na.n_sh + nb2.n_sh - shared), 6) >= 0.5) v),
         |sum_$c AS (
         |  SELECT $nb::INT AS bands, $bs::INT AS rows_per_band,
         |    (SELECT count(*) FROM cand_$c)::BIGINT AS n_cand,
         |    n_verified,
         |    ((1000000 * n_verified)
         |      // greatest((SELECT count(*) FROM cand_$c), 1))::BIGINT
         |      AS precision_ppm
         |  FROM ver_$c)""".stripMargin
    }.mkString(",\n")
    val unions = LshSweep.indices
      .map(c => s"SELECT * FROM sum_$c").mkString("\nUNION ALL\n")
    s"""$sigSqlCte,
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(shs)) AS sh FROM s),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
       |$cfgs
       |$unions
       |ORDER BY bands DESC""".stripMargin
  }

  /** qd19: URL canonicalization dedup — the crawl-pipeline staple
    * (CommonCrawl-style): scheme/host lowercasing, www. strip, default
    * ports, fragments, tracking params (utm_ prefix, fbclid), query-param
    * sort, trailing-slash normalization — then exact dedup on the
    * canonical form. Each doc synthesizes one of two SURFACE variants
    * of the same logical URL (uppercase WWW host + :443 + reordered
    * params + utm + fragment + trailing slash vs the plain form), so
    * pairs (2k, 2k+1) must collapse to one canonical with the even
    * doc as keeper. The whole chain is native column functions — zero
    * UDFs, everything codegen'd — and the oracle replays each step
    * with DuckDB's string ops. */
  private def urlCanonDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = ($"doc_id" / 2).cast("long")
    val hostBase = concat(lit("example"), pmod(k, lit(20)))
    val raw = when(pmod($"doc_id", lit(2)) === 0,
      concat(lit("HTTPS://WWW."), upper(hostBase), lit(".COM:443/p/"), k,
        lit("/?b=2&a=1&utm_source=feed#top")))
      .otherwise(concat(lit("https://"), hostBase, lit(".com/p/"), k,
        lit("?a=1&b=2")))
    val withUrl = Tables(s, dir).documents.select($"doc_id", raw.as("url"))
    val scheme = lower(substring_index($"url", "://", 1))
    // strip scheme, then fragment
    val rest = substring_index(substring_index($"url", "://", -1), "#", 1)
    val hostport = regexp_extract(rest, "^([^/?]+)", 1)
    val pathq = regexp_extract(rest, "^[^/?]+(.*)$", 1)
    val host = regexp_replace(
      lower(substring_index(hostport, ":", 1)), "^www\\.", "")
    val port = when(hostport.contains(":"),
      substring_index(hostport, ":", -1)).otherwise(lit(""))
    val keepPort = port =!= "" &&
      !(scheme === "https" && port === "443") &&
      !(scheme === "http" && port === "80")
    val path0 = substring_index(pathq, "?", 1)
    val path = when(path0 === "" || path0 === "/", path0)
      .otherwise(regexp_replace(path0, "/$", ""))
    val query = when(pathq.contains("?"),
      substring_index(pathq, "?", -1)).otherwise(lit(""))
    val params = array_sort(filter(split(query, "&"), p =>
      p =!= "" && !p.startsWith("utm_") && !p.startsWith("fbclid")))
    val canon = concat(scheme, lit("://"), host,
      when(keepPort, concat(lit(":"), port)).otherwise(lit("")),
      path,
      when(size(params) > 0, concat(lit("?"), array_join(params, "&")))
        .otherwise(lit("")))
    withUrl.select($"doc_id", canon.as("canonical_url"))
      .groupBy($"canonical_url")
      .agg(count(lit(1)).cast("int").as("n_docs"),
        min($"doc_id").as("keeper"))
      .orderBy($"canonical_url")
  }

  private val urlCanonDedupSql =
    """WITH u AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 2 = 0 THEN
      |      'HTTPS://WWW.' || upper('example' || ((doc_id // 2) % 20))
      |        || '.COM:443/p/' || (doc_id // 2)
      |        || '/?b=2&a=1&utm_source=feed#top'
      |    ELSE 'https://example' || ((doc_id // 2) % 20) || '.com/p/'
      |        || (doc_id // 2) || '?a=1&b=2' END AS url
      |  FROM documents),
      |parts AS (
      |  SELECT doc_id,
      |    lower(split_part(url, '://', 1)) AS scheme,
      |    split_part(split_part(url, '://', 2), '#', 1) AS rest
      |  FROM u),
      |hp AS (
      |  SELECT doc_id, scheme,
      |    regexp_extract(rest, '^([^/?]+)', 1) AS hostport,
      |    regexp_extract(rest, '^[^/?]+(.*)$', 1) AS pathq
      |  FROM parts),
      |norm AS (
      |  SELECT doc_id, scheme,
      |    regexp_replace(lower(split_part(hostport, ':', 1)),
      |      '^www\.', '') AS host,
      |    CASE WHEN contains(hostport, ':')
      |         THEN split_part(hostport, ':', 2) ELSE '' END AS port,
      |    split_part(pathq, '?', 1) AS path0,
      |    CASE WHEN contains(pathq, '?')
      |         THEN split_part(pathq, '?', 2) ELSE '' END AS query
      |  FROM hp),
      |canon AS (
      |  SELECT doc_id,
      |    scheme || '://' || host ||
      |    CASE WHEN port <> ''
      |          AND NOT (scheme = 'https' AND port = '443')
      |          AND NOT (scheme = 'http' AND port = '80')
      |         THEN ':' || port ELSE '' END ||
      |    CASE WHEN path0 = '' OR path0 = '/' THEN path0
      |         ELSE regexp_replace(path0, '/$', '') END ||
      |    CASE WHEN len(list_filter(string_split(query, '&'), p ->
      |           p <> '' AND NOT starts_with(p, 'utm_')
      |           AND NOT starts_with(p, 'fbclid'))) > 0
      |         THEN '?' || list_aggregate(list_sort(
      |           list_filter(string_split(query, '&'), p ->
      |             p <> '' AND NOT starts_with(p, 'utm_')
      |             AND NOT starts_with(p, 'fbclid'))), 'string_agg', '&')
      |         ELSE '' END AS canonical_url
      |  FROM norm)
      |SELECT canonical_url, count(*)::INT AS n_docs,
      |  min(doc_id) AS keeper
      |FROM canon GROUP BY canonical_url ORDER BY canonical_url""".stripMargin

  override val defs: Map[String, QueryDef] = Map(
    "qd19_url_canon" -> QueryDef(urlCanonDedup, Some(urlCanonDedupSql)),
    "qd18_lsh_tuning" -> QueryDef(lshTuning, Some(lshTuningSql)),
    "qd17_cdc_chunks" -> QueryDef(cdcChunks, Some(cdcChunksSql), bench = true),
    "st09_stream_lsh_dedup" -> QueryDef(streamLshDedup,
      Some(streamLshDedupSql), bench = true),
    "qd14_bloom_prefilter" -> QueryDef(bloomPrefilter, Some(bloomPrefilterSql)),
    "qd13_kmv_distinct" -> QueryDef(kmvDistinct, Some(kmvDistinctSql)),
    "qd09_dup_clusters" -> QueryDef(dupClusters, Some(dupClustersSql)),
    "qd23_soft_dedup" -> QueryDef(softDedup, Some(softDedupSql)),
    "qd10_minhash_est" -> QueryDef(minhashEst, Some(minhashEstSql)),
    "qd08_keep_list" -> QueryDef(keepList, Some(keepListSql)),
    "qd01_exact_dedup" -> QueryDef(exact, Some(exactSql)),
    "qd02_minhash_sig" -> QueryDef(minhashSig, Some(minhashSigSql), bench = true),
    "qd03_lsh_pairs" -> QueryDef(lshPairs, Some(lshPairsSql), bench = true),
    "qd04_ngram_jaccard" -> QueryDef(jaccard, Some(jaccardSql)),
    "qd22_containment" -> QueryDef(containment, Some(containmentSql)),
    "qd26_containment_capped" -> QueryDef(containmentCapped,
      Some(containmentCappedSql), bench = true),
    "qd27_lsh_bucket_cap" -> QueryDef(lshPairsCappedQ,
      Some(lshPairsCappedSql), bench = true),
    "qd24_containment_keep" -> QueryDef(containmentKeep,
      Some(containmentKeepSql)),
    "qd05_simhash" -> QueryDef(simhash, Some(simhashSql)),
    "qd07_simhash_pairs" -> QueryDef(simhashPairs, Some(simhashPairsSql), bench = true),
    "qd06_embed_near_dup" -> QueryDef(embedDup, Some(embedDupSql), bench = true),
    "qd20_embed_near_dup_auto" -> QueryDef(embedDupAuto,
      Some(embedDupAutoSql), bench = true),
    "qd15_incremental_dedup" -> QueryDef(incrementalDedup,
      Some(incrementalDedupSql), bench = true),
    // bench: qd31 is the capped production posture of incremental
    // near-dup dedup (round-17 sf30 ring: uncapped band join goes
    // sf² on hot bands — 129 GB spill; the qd27 ceiling removes it)
    "qd31_incremental_capped" -> QueryDef(incrementalDedupCapped,
      Some(incrementalDedupCappedSql), bench = true),
    "qd28_bloom_incremental" -> QueryDef(bloomIncremental,
      Some(bloomIncrementalSql), bench = true),
    // bench: qd32 is the capped production posture of the cross-split
    // leak audit (round-17 sf30 ring: qd16's uncapped pairs go sf² on
    // hot bands — 150 GB spill; the qd27 ceiling removes it)
    "qd32_split_hygiene_capped" -> QueryDef(splitHygieneCapped,
      Some(splitHygieneCappedSql), bench = true),
    "qd16_split_hygiene" -> QueryDef(splitHygiene, Some(splitHygieneSql),
      bench = true),
  )
}
