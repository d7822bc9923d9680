package graft.queries

import graft.{QueryDef, QueryRegistry, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents` (north-star surface for a
  * training-data pipeline): stats, token counting, heuristic language ID,
  * quality scoring, fingerprinting.
  *
  * Everything here is per-row (narrow) — scans stay in whole-stage
  * codegen with zero shuffles except the final presentation sort; at
  * 100 TB these run at scan speed and are the cheap first pass before
  * any dedup/shuffle stage.
  */
object TextQueries extends QueryRegistry {

  /** Common language marker word lists (shared by lang-ID and quality).
    * Tiny fixed vocabularies — inlined as array literals on both engines. */
  private val markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "to", "and", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "auf"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "des", "du", "que", "pour"),
    "es" -> Seq("el", "los", "y", "es", "una", "las", "por", "con", "para", "su"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "就", "不", "人"),
  )
  private val langOrder = Seq("en", "de", "fr", "es", "zh")

  private def words(c: Column): Column = split(lower(c), " ")

  private def hitCount(ws: Column, lang: String): Column =
    size(filter(ws, w => array_contains(typedLit(markers(lang)), w)))

  private def hitCountSql(lang: String): String = {
    val lst = markers(lang).map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter(ws, x -> list_contains($lst, x)))::INT"
  }

  /** Basic per-document stats: chars, whitespace word count. */
  private def stats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir).documents
      .select($"doc_id", $"n_chars",
        length($"text").as("len_chars"),
        (length($"text") - length(regexp_replace($"text", " ", "")) + 1)
          .as("n_words"))
      .orderBy($"doc_id")
  }

  private val statsSql =
    """SELECT doc_id, n_chars, length(text)::INT AS len_chars,
      | (length(text) - length(replace(text, ' ', '')) + 1)::INT AS n_words
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Token counting: whitespace tokens + a BPE-ish sub-word count
    * (alpha runs capped at 4 chars, digits, punctuation — the same
    * regex evaluates identically under Java regex and RE2). */
  private def tokens(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir).documents
      .select($"doc_id",
        size(words($"text")).as("ws_tokens"),
        size(expr(
          "regexp_extract_all(lower(text), '[a-z]{1,4}|[0-9]|[^a-z0-9 ]', 0)"))
          .as("bpe_tokens"))
      .orderBy($"doc_id")
  }

  private val tokensSql =
    """SELECT doc_id, len(string_split(lower(text), ' '))::INT AS ws_tokens,
      | len(regexp_extract_all(lower(text), '[a-z]{1,4}|[0-9]|[^a-z0-9 ]'))::INT
      |   AS bpe_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Heuristic language ID: stopword-hit argmax with fixed priority
    * order; emits prediction next to the labeled `lang` column. */
  private def langId(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ws = words($"text")
    val hits = langOrder.map(l => hitCount(ws, l).as(s"h_$l"))
    val base = Tables(s, dir).documents
      .select($"doc_id" +: $"lang" +: hits: _*)
    val pred = langOrder.init.foldRight(lit(langOrder.last)) { (l, rest) =>
      val others = langOrder.dropWhile(_ != l).drop(1)
      if (others.isEmpty) rest
      else {
        val rivals = others.map(o => col(s"h_$o"))
        val best =
          if (rivals.size == 1) rivals.head else greatest(rivals: _*)
        when(col(s"h_$l") >= best, lit(l)).otherwise(rest)
      }
    }
    base.withColumn("pred_lang", pred)
      .orderBy($"doc_id")
  }

  /** qt16: lang-ID confusion matrix — the EVAL harness over qt03's
    * classifier (same spirit as qs09 for ANN: a pipeline must measure
    * its own heuristics on labeled data, on the engine). Aggregates
    * (true, predicted) counts with per-true-lang recall shares in ppm;
    * the matrix is |langs|² rows, so everything after the one corpus
    * pass is broadcast-sized. */
  private def langConfusion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = langId(s, dir)
      .groupBy($"lang".as("true_lang"), $"pred_lang")
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy($"true_lang").agg(sum($"n").as("n_true"))
    counts.join(broadcast(totals), "true_lang")
      .select($"true_lang", $"pred_lang", $"n",
        expr("(1000000 * n) div n_true").as("share_ppm"))
      .orderBy($"true_lang", $"pred_lang")
  }

  private lazy val langConfusionSql = {
    val inner = langIdSql.replace("ORDER BY doc_id", "")
    s"""WITH p AS ($inner),
       |c AS (
       |  SELECT lang AS true_lang, pred_lang, count(*)::BIGINT AS n
       |  FROM p GROUP BY lang, pred_lang),
       |t AS (SELECT true_lang, sum(n)::BIGINT AS n_true
       |      FROM c GROUP BY true_lang)
       |SELECT true_lang, pred_lang, n,
       |  ((1000000 * n) // n_true)::BIGINT AS share_ppm
       |FROM c JOIN t USING (true_lang)
       |ORDER BY true_lang, pred_lang""".stripMargin
  }

  private val langIdSql = {
    val hits = langOrder
      .map(l => s"  ${hitCountSql(l)} AS h_$l").mkString(",\n")
    val pred = {
      val cases = langOrder.init.map { l =>
        val others = langOrder.dropWhile(_ != l).drop(1)
          .map(o => s"h_$o").mkString(", ")
        s"WHEN h_$l >= greatest($others) THEN '$l'"
      }.mkString(" ")
      s"CASE $cases ELSE '${langOrder.last}' END"
    }
    s"""SELECT doc_id, lang, h_en, h_de, h_fr, h_es, h_zh,
       | $pred AS pred_lang
       |FROM (
       |  SELECT doc_id, lang,
       |$hits
       |  FROM (SELECT doc_id, lang, string_split(lower(text), ' ') AS ws
       |        FROM documents) w) t
       |ORDER BY doc_id""".stripMargin
  }

  /** Quality scoring: length/punctuation/stopword ratios combined into a
    * deterministic [0,1]-ish score (exact IEEE arithmetic both engines). */
  private def quality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ws = words($"text")
    val nWords = size(ws).cast("double")
    val punct = (length($"text") -
      length(translate($"text", ".,!?;:", ""))).cast("double")
    val stop = hitCount(ws, "en").cast("double")
    Tables(s, dir).documents
      .select($"doc_id",
        round(($"n_chars".cast("double") / nWords), 6).as("avg_word_len"),
        round(punct / $"n_chars".cast("double"), 6).as("punct_ratio"),
        round(stop / nWords, 6).as("stopword_ratio"),
        round(
          least(nWords / lit(100.0), lit(1.0)) * lit(0.5)
            + least(stop / nWords * lit(5.0), lit(1.0)) * lit(0.3)
            + (lit(1.0) - least(punct / $"n_chars".cast("double") * lit(10.0),
              lit(1.0))) * lit(0.2), 6).as("quality"))
      .orderBy($"doc_id")
  }

  private val qualitySql = {
    val stop = hitCountSql("en")
    s"""SELECT doc_id,
       | round(n_chars::DOUBLE / nw, 6) AS avg_word_len,
       | round(pc / n_chars::DOUBLE, 6) AS punct_ratio,
       | round(st / nw, 6) AS stopword_ratio,
       | round(least(nw / 100.0, 1.0) * 0.5
       |   + least(st / nw * 5.0, 1.0) * 0.3
       |   + (1.0 - least(pc / n_chars::DOUBLE * 10.0, 1.0)) * 0.2, 6)
       |   AS quality
       |FROM (
       |  SELECT doc_id, n_chars,
       |    len(ws)::DOUBLE AS nw,
       |    (length(text) - length(translate(text, '.,!?;:', '')))::DOUBLE AS pc,
       |    $stop::DOUBLE AS st
       |  FROM (SELECT doc_id, n_chars, text,
       |          string_split(lower(text), ' ') AS ws FROM documents) w) t
       |ORDER BY doc_id""".stripMargin
  }

  /** Document fingerprints: exact content hash + order-insensitive
    * bag-of-words hash (both md5 — identical across engines). */
  private def fingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir).documents
      .select($"doc_id",
        md5(to_binary(lower($"text"), lit("utf-8"))).as("content_fp"),
        md5(to_binary(concat_ws(" ", sort_array(words($"text"))),
          lit("utf-8"))).as("bag_fp"))
      .orderBy($"doc_id")
  }

  private val fingerprintSql =
    """SELECT doc_id, md5(lower(text)) AS content_fp,
      | md5(array_to_string(list_sort(string_split(lower(text), ' ')), ' '))
      |   AS bag_fp
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Per-language top-5 bigrams: n-gram extraction + frequency + windowed
    * top-k — the corpus-statistics shape (vocabulary building). */
  private def topBigrams(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val ws = words($"text")
    val bigrams = when(size(ws) >= 2,
      transform(sequence(lit(1), size(ws) - 1), i =>
        concat_ws(" ", element_at(ws, i), element_at(ws, i + 1))))
      .otherwise(array())
    val w = Window.partitionBy($"lang").orderBy($"n".desc, $"bigram")
    Tables(s, dir).documents
      .select($"lang", explode(bigrams).as("bigram"))
      .groupBy($"lang", $"bigram").agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 5)
      .orderBy($"lang", $"rank")
  }

  private val topBigramsSql =
    """WITH bg AS (
      |  SELECT lang, unnest(list_transform(
      |    generate_series(1, len(ws) - 1),
      |    i -> ws[i] || ' ' || ws[i+1])) AS bigram
      |  FROM (SELECT lang, string_split(lower(text), ' ') AS ws
      |        FROM documents) w
      |  WHERE len(ws) >= 2),
      |freq AS (
      |  SELECT lang, bigram, count(*) AS n FROM bg GROUP BY 1, 2)
      |SELECT lang, bigram, n, rank FROM (
      |  SELECT lang, bigram, n, row_number() OVER (
      |    PARTITION BY lang ORDER BY n DESC, bigram)::INT AS rank
      |  FROM freq) t
      |WHERE rank <= 5 ORDER BY lang, rank""".stripMargin

  /** Gopher/MassiveText-style repetition filters: fraction of the
    * document claimed by its single most frequent word, and the
    * duplicated-bigram fraction. Distributed shape: explode → per-doc
    * agg (shuffle keys are doc ids) — NOT a per-row O(n²) HOF scan, so
    * long documents cost O(words) at 100 TB. */
  private def repetition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir).documents
    val w = docs.select($"doc_id", explode(words($"text")).as("w"))
    val topFrac = w.groupBy($"doc_id", $"w").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(max($"c").as("top_c"), sum($"c").as("n_w"))
      .select($"doc_id",
        round($"top_c".cast("double") / $"n_w", 6).as("top_word_frac"))
    val ws = words($"text")
    val bigrams = when(size(ws) >= 2,
      transform(sequence(lit(1), size(ws) - 1), i =>
        concat_ws(" ", element_at(ws, i), element_at(ws, i + 1))))
      .otherwise(array(concat_ws(" ", ws)))
    val dupFrac = docs.select($"doc_id", explode(bigrams).as("b"))
      .groupBy($"doc_id")
      .agg(round(lit(1.0) -
        countDistinct($"b").cast("double") / count(lit(1)), 6)
        .as("dup_bigram_frac"))
    topFrac.join(dupFrac, "doc_id")
      .select($"doc_id", $"top_word_frac", $"dup_bigram_frac")
      .orderBy($"doc_id")
  }

  private val repetitionSql =
    """WITH w AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, round(max(c)::DOUBLE / sum(c), 6) AS top_word_frac
      |  FROM (SELECT doc_id, w, count(*) AS c FROM w GROUP BY 1, 2) t
      |  GROUP BY doc_id),
      |bsrc AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
      |b AS (
      |  SELECT doc_id, unnest(CASE WHEN len(ws) >= 2
      |    THEN list_transform(generate_series(1, len(ws) - 1),
      |           i -> ws[i] || ' ' || ws[i+1])
      |    ELSE [array_to_string(ws, ' ')] END) AS b
      |  FROM bsrc),
      |bf AS (
      |  SELECT doc_id,
      |    round(1.0 - count(DISTINCT b)::DOUBLE / count(*), 6)
      |      AS dup_bigram_frac
      |  FROM b GROUP BY doc_id)
      |SELECT tf.doc_id, top_word_frac, dup_bigram_frac
      |FROM tf JOIN bf ON tf.doc_id = bf.doc_id
      |ORDER BY tf.doc_id""".stripMargin

  /** PII/URL scrubbing: synthetic contact info is injected per doc (the
    * fixture has none), then URLs, emails, and phone numbers are
    * counted and redacted — applied in that order so the URL pattern
    * can't half-consume an email. Row-narrow regex work, zero shuffle;
    * the redacted text is reported by hash to keep rows small. */
  private def redact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val aug = concat($"text",
      lit(" contact user"), $"doc_id", lit("@example.com or +1-555-"),
      lpad(($"doc_id" % 10000).cast("string"), 4, "0"),
      lit(" see https://ex.org/p/"), $"doc_id")
    val urlPat = "https?://[^ ]+"
    val emailPat = "[a-zA-Z0-9._]+@[a-zA-Z0-9.-]+"
    val phonePat = "\\+?[0-9][0-9-]{7,}"
    Tables(s, dir).documents
      .select($"doc_id", aug.as("t"))
      .select($"doc_id",
        size(regexp_extract_all($"t", lit(urlPat), lit(0))).as("n_urls"),
        size(regexp_extract_all($"t", lit(emailPat), lit(0))).as("n_emails"),
        size(regexp_extract_all($"t", lit(phonePat), lit(0))).as("n_phones"),
        md5(to_binary(
          regexp_replace(
            regexp_replace(
              regexp_replace($"t", urlPat, "<URL>"),
              emailPat, "<EMAIL>"),
            phonePat, "<PHONE>"), lit("utf-8"))).as("clean_hash"))
      .orderBy($"doc_id")
  }

  private val redactSql =
    """WITH a AS (
      |  SELECT doc_id,
      |    text || ' contact user' || doc_id ||
      |    '@example.com or +1-555-' ||
      |    lpad((doc_id % 10000)::VARCHAR, 4, '0') ||
      |    ' see https://ex.org/p/' || doc_id AS t
      |  FROM documents)
      |SELECT doc_id,
      |  len(regexp_extract_all(t, 'https?://[^ ]+'))::INT AS n_urls,
      |  len(regexp_extract_all(t, '[a-zA-Z0-9._]+@[a-zA-Z0-9.-]+'))::INT
      |    AS n_emails,
      |  len(regexp_extract_all(t, '\+?[0-9][0-9-]{7,}'))::INT AS n_phones,
      |  md5(regexp_replace(regexp_replace(regexp_replace(t,
      |    'https?://[^ ]+', '<URL>', 'g'),
      |    '[a-zA-Z0-9._]+@[a-zA-Z0-9.-]+', '<EMAIL>', 'g'),
      |    '\+?[0-9][0-9-]{7,}', '<PHONE>', 'g')) AS clean_hash
      |FROM a ORDER BY doc_id""".stripMargin

  /** C4/MassiveText-style quality-filter flags (Raffel et al. 2020 §2.2
    * heuristics): word count, mean word length band, sentence count,
    * terminal punctuation, boilerplate markers ("lorem ipsum", code
    * braces, "javascript"), combined into a keep decision. The fixture
    * text is punctuation-free word soup, so the punctuation/marker axes
    * are injected deterministically from doc_id (the qt08 pattern) —
    * every flag exercises both branches. Row-narrow, zero shuffle. */
  private def c4Filters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val aug = concat($"text",
      when($"doc_id" % 41 === 0, lit(" lorem ipsum dolor")).otherwise(lit("")),
      when($"doc_id" % 37 === 0, lit(" function() { javascript }"))
        .otherwise(lit("")),
      when($"doc_id" % 3 === 0, lit(" no terminal mark here"))
        .otherwise(lit(". the end.")))
    val base = Tables(s, dir).documents.select($"doc_id", aug.as("t"))
    val nWords = size(split($"t", " "))
    val meanLen = round(
      (length($"t") - (nWords - 1)).cast("double") / nWords, 6)
    val nSentences = size(regexp_extract_all($"t", lit("[.!?]"), lit(0)))
    val endsPunct = when($"t".rlike("[.!?]$"), 1).otherwise(0)
    val hasBad = when(
      lower($"t").contains("lorem ipsum") || $"t".contains("{") ||
        lower($"t").contains("javascript"), 1).otherwise(0)
    base.select($"doc_id",
        nWords.as("n_words"), meanLen.as("mean_word_len"),
        nSentences.as("n_sentences"), endsPunct.as("ends_punct"),
        hasBad.as("has_bad"))
      .withColumn("keep",
        when($"n_words" >= 30 && $"mean_word_len" >= 3.0 &&
          $"mean_word_len" <= 10.0 && $"n_sentences" >= 1 &&
          $"ends_punct" === 1 && $"has_bad" === 0, 1).otherwise(0))
      .orderBy($"doc_id")
  }

  private val c4FiltersSql =
    """WITH a AS (
      |  SELECT doc_id, text
      |    || (CASE WHEN doc_id % 41 = 0 THEN ' lorem ipsum dolor' ELSE '' END)
      |    || (CASE WHEN doc_id % 37 = 0
      |          THEN ' function() { javascript }' ELSE '' END)
      |    || (CASE WHEN doc_id % 3 = 0 THEN ' no terminal mark here'
      |          ELSE '. the end.' END) AS t
      |  FROM documents),
      |f AS (
      |  SELECT doc_id,
      |    len(string_split(t, ' '))::INT AS n_words,
      |    round((length(t) - (len(string_split(t, ' ')) - 1))::DOUBLE
      |      / len(string_split(t, ' ')), 6) AS mean_word_len,
      |    len(regexp_extract_all(t, '[.!?]'))::INT AS n_sentences,
      |    CASE WHEN regexp_matches(t, '[.!?]$') THEN 1 ELSE 0 END AS ends_punct,
      |    CASE WHEN lower(t) LIKE '%lorem ipsum%' OR t LIKE '%{%'
      |      OR lower(t) LIKE '%javascript%' THEN 1 ELSE 0 END AS has_bad
      |  FROM a)
      |SELECT *, CASE WHEN n_words >= 30 AND mean_word_len >= 3.0
      |  AND mean_word_len <= 10.0 AND n_sentences >= 1
      |  AND ends_punct = 1 AND has_bad = 0 THEN 1 ELSE 0 END AS keep
      |FROM f ORDER BY doc_id""".stripMargin

  /** Unicode NFC canonicalization via the native codegen'd
    * [[graft.functions.NfcNormalize]] expression (Spark has no builtin;
    * DuckDB's `nfc_normalize` is the oracle). Decomposed accent
    * sequences are injected deterministically (the fixture is ASCII) so
    * the normalizer has real work: U+0301/U+0300 combining accents
    * compose with their base letters, shrinking the code-point length. */
  private def normalize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.NfcNormalize.nfc
    // decomposed on purpose: base letter + combining accent (U+0301
    // acute / U+0300 grave), the same code points the DuckDB oracle
    // builds with chr(769)/chr(768) — NFC composes them
    val aug = concat($"text",
      lit(" café précis à la mode"))
    Tables(s, dir).documents
      .select($"doc_id", aug.as("t"))
      .select($"doc_id",
        length($"t").as("len_raw"),
        length(nfc($"t")).as("len_nfc"),
        when(nfc($"t") === $"t", 0).otherwise(1).as("changed"),
        md5(to_binary(nfc($"t"), lit("utf-8"))).as("nfc_hash"))
      .orderBy($"doc_id")
  }

  private val normalizeSql =
    """WITH a AS (
      |  SELECT doc_id, text || ' cafe' || chr(769) || ' pre' || chr(769)
      |    || 'cis a' || chr(768) || ' la mode' AS t
      |  FROM documents)
      |SELECT doc_id, length(t)::INT AS len_raw,
      |  length(nfc_normalize(t))::INT AS len_nfc,
      |  CASE WHEN nfc_normalize(t) = t THEN 0 ELSE 1 END AS changed,
      |  md5(nfc_normalize(t)) AS nfc_hash
      |FROM a ORDER BY doc_id""".stripMargin

  /** Per-document top-3 terms by tf-idf — the vocabulary/keyword shape
    * of corpus analytics (explode → term counts → document frequency →
    * weight → windowed top-k). The idf factor is the LOG-FREE rational
    * (N+1)/(df+1): Math.log and C libm may differ in the last ulp,
    * which a hash gate cannot tolerate at rounding boundaries, and the
    * rare-term ORDERING (all that top-k consumes) is identical — log is
    * monotone. Ties break on the term string. Shuffle keys: words, then
    * doc ids — never full documents. */
  private def tfidf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(s, dir).documents
    // corpus size enters the plan as a broadcast scalar, and document
    // frequency as a count-over-term window on the tf frame — ONE
    // explode+aggregate pass feeds everything (an agg+join-back form
    // would re-evaluate the explode subtree on both join sides)
    val n = broadcast(docs.agg(count(lit(1)).cast("double").as("n")))
    val tf = docs.select($"doc_id", explode(words($"text")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val byTerm = Window.partitionBy($"term")
    val w = Window.partitionBy($"doc_id")
      .orderBy($"score".desc, $"term")
    tf.withColumn("df", count(lit(1)).over(byTerm))
      .crossJoin(n)
      .withColumn("score",
        round($"tf" * (($"n" + lit(1.0)) / ($"df" + lit(1.0))), 6))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select($"doc_id", $"rank", $"term", $"tf", $"df", $"score")
      .orderBy($"doc_id", $"rank")
  }

  private val tfidfSql =
    """WITH tf AS (
      |  SELECT doc_id, term, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      |        FROM documents) t
      |  GROUP BY doc_id, term),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT count(*)::DOUBLE AS n FROM documents),
      |scored AS (
      |  SELECT doc_id, term, tf, df,
      |    round(tf * ((n + 1.0) / (df + 1.0)), 6) AS score,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY round(tf * ((n + 1.0) / (df + 1.0)), 6) DESC, term)::INT
      |      AS rank
      |  FROM tf JOIN df USING (term), n)
      |SELECT doc_id, rank, term, tf, df, score FROM scored
      |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  /** qt12: bigram language-model familiarity score — the CCNet-style
    * "does this document look like the corpus" quality filter
    * (Wenzek et al. 2020 score with a KenLM model; here the LM is
    * trained on the corpus itself in the same job). Per document:
    * mean add-one-smoothed conditional probability of its bigrams,
    * P(w2|w1) = (c12+1)/(c1+V).
    *
    * Hash-gate determinism: a float MEAN over a distributed group is
    * summation-order-dependent, so each bigram's probability is scaled
    * to ppm and FLOORED TO BIGINT first — integer sums commute, and the
    * per-doc mean is integer division. The probability itself is one
    * double divide over identical integer operands on both engines.
    *
    * Scale shape: the count tables shuffle words / word pairs (bytes,
    * not documents); the per-occurrence join is the standard Zipf-
    * concentrated LM-count join (AQE broadcasts it when small; at
    * 100 TB the head of the table serves most probes). The per-doc
    * aggregation shuffles (doc_id, long). */
  private def lmScore(s: SparkSession, dir: String): DataFrame =
    lmScoreOf(Tables(s, dir).documents)

  /** Query-path body over any (doc_id, text) frame.
    *
    * `saltHotWords > 0` opts into the detect-then-salt mitigation for
    * the Zipf-hot (w1[,w2]) join keys: one bounded-state Misra-Gries
    * pass over unigram-occurrence hashes finds words holding >1/16 of
    * occurrences, then exactly those words' occ rows fan across
    * `saltHotWords` salts while their count-table rows replicate to
    * match (cold keys join plainly at salt 0). Values are identical —
    * salting only reroutes rows — so the gate keeps the default path
    * and the A/B lives in SCALE.md. On a real cluster AQE's
    * skew split is the zero-code alternative once hot partitions cross
    * its size threshold; explicit salting is for when they don't
    * (compressed small rows) or AQE is off (streaming). */
  private[graft] def lmScoreOf(
      docs: DataFrame, saltHotWords: Int = 0): DataFrame = {
    import docs.sparkSession.implicits._
    val base = docs.select($"doc_id", words($"text").as("ws"))
    // size guard: Spark sequence(1, 0) counts DOWN ([1,0]) instead of
    // returning empty like DuckDB generate_series — skip 1-word docs
    // occurrence-level joins, MEASURED faster than the pre-aggregated
    // per-doc-type alternative at fixture ×1 and ×100 both (SCALE.md:
    // 9.1 s vs 15.2 s at 500k docs — per-doc bigram repetition is too
    // low for an extra combine shuffle to pay for itself). The (w1,w2)
    // join keys are Zipf-hot by nature; that's the AQE-skew-split case,
    // not a plan-shape defect, and the shuffled payload is
    // (doc_id, two dictionary-encoded words), never document text.
    val occ = base.filter(size($"ws") > 1)
      .select($"doc_id",
        explode(transform(sequence(lit(1), size($"ws") - 1), i =>
          struct(element_at($"ws", i).as("w1"),
            element_at($"ws", i + 1).as("w2")))).as("bg"))
      .select($"doc_id", $"bg.w1", $"bg.w2")
    val c12 = occ.groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
    val uni = base.select(explode($"ws").as("w1"))
    val c1 = uni.groupBy($"w1").agg(count(lit(1)).as("c1"))
    val vocab = broadcast(uni.agg(
      count_distinct($"w1").cast("long").as("v")))
    val joined =
      if (saltHotWords <= 0)
        occ.join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
      else {
        val s = docs.sparkSession
        val agg = uni.agg(
          graft.functions.FreqSketch.freqSketch(xxhash64($"w1"), 64)
            .as("sk"),
          count(lit(1)).as("n")).head()
        val total = agg.getLong(1)
        // MG at k=64 undercounts each key by up to total/65, so the
        // raw >total/16 cut could drop a genuinely >1/16-share word
        // sitting just above the line; subtract the bound (standard MG
        // threshold correction — over-salting a near-hot word is
        // harmless, missing a hot one defeats the feature)
        val hot = agg.getMap[Long, Long](0)
          .filter(_._2 > total / 16 - total / 65).keys.toSeq.sorted
        if (hot.isEmpty)
          occ.join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
        else {
          // hash-membership salting: a cold word colliding with a hot
          // hash merely salts unnecessarily (values unaffected)
          val isHot = xxhash64($"w1").isin(hot: _*)
          val range = s.range(saltHotWords.toLong)
            .select(col("id").cast("int").as("salt"))
          def replicated(t: DataFrame): DataFrame =
            t.filter(isHot).crossJoin(range)
              .unionByName(t.filter(!isHot).withColumn("salt", lit(0)))
          occ.withColumn("salt",
              when(isHot, pmod(xxhash64($"doc_id"), lit(saltHotWords))
                .cast("int")).otherwise(lit(0)))
            .join(replicated(c12), Seq("w1", "w2", "salt"))
            .join(replicated(c1), Seq("w1", "salt"))
        }
      }
    val scored = joined.crossJoin(vocab)
      .select($"doc_id",
        floor(lit(1e6) * ($"c12" + 1) / ($"c1" + $"v")).as("ppm"))
    val per = scored.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum($"ppm").as("sum_ppm"))
    docs.select($"doc_id").join(per, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_bigrams", lit(0L)).as("n_bigrams"),
        coalesce($"sum_ppm", lit(0L)).as("sum_ppm"),
        coalesce(expr("sum_ppm div n_bigrams"), lit(0L)).as("avg_ppm"))
      .orderBy($"doc_id")
  }

  private val lmScoreSql =
    """WITH base AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
      |occ AS (
      |  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
      |  FROM (SELECT doc_id, ws,
      |          unnest(generate_series(1, len(ws) - 1)) AS i FROM base)),
      |c12 AS (SELECT w1, w2, count(*) AS c12 FROM occ GROUP BY w1, w2),
      |c1 AS (SELECT w1, count(*) AS c1
      |       FROM (SELECT unnest(ws) AS w1 FROM base) GROUP BY w1),
      |vocab AS (SELECT count(DISTINCT w1)::BIGINT AS v
      |          FROM (SELECT unnest(ws) AS w1 FROM base)),
      |scored AS (
      |  SELECT doc_id, floor(1e6 * (c12 + 1) / (c1 + v))::BIGINT AS ppm
      |  FROM occ JOIN c12 USING (w1, w2) JOIN c1 USING (w1), vocab),
      |per AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams,
      |          sum(ppm)::BIGINT AS sum_ppm FROM scored GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(n_bigrams, 0) AS n_bigrams,
      |  coalesce(sum_ppm, 0) AS sum_ppm,
      |  coalesce(sum_ppm // n_bigrams, 0) AS avg_ppm
      |FROM documents d LEFT JOIN per USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** BM25 parameters and the fixed query-term set (corpus-frequent
    * terms; inlined identically into the oracle). */
  private val Bm25K1 = 1.2
  private val Bm25B  = 0.75
  private val Bm25Terms = Seq("spark", "vector", "stream", "merge")

  /** qt13: BM25 retrieval — the inverted-index scoring pass of corpus
    * search (Robertson/Spärck Jones), top-10 documents for a fixed
    * conjunctive term set. The idf factor is the LOG-FREE rational
    * (N-df+0.5)/(df+0.5) (same monotone-ordering argument as qt11's
    * tf-idf: libm log ulps are not hash-stable; ranking is unchanged).
    *
    * Per (doc, term) the score is pure double arithmetic over integer
    * inputs (tf, dl, df, N, Σdl) with an identical expression tree on
    * both engines, floored to ppm; the per-doc total is then an exact
    * BIGINT sum. dl/avgdl is written dl*N/Σdl so no intermediate mean
    * materializes.
    *
    * Scale shape: one explode→filter (the posting-list build prunes to
    * query terms BEFORE the shuffle — the scan dominates), df by a
    * term window over ≤|Q| distinct terms, top-k by a single ordered
    * window. At 100 TB the posting build is the only corpus-wide pass. */
  private def bm25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(s, dir).documents
    val base = docs.select($"doc_id", words($"text").as("ws"))
    val dl = base.select($"doc_id", size($"ws").cast("long").as("dl"))
    val stats = broadcast(dl.agg(count(lit(1)).cast("long").as("n"),
      sum($"dl").as("sumdl")))
    val tf = base
      .select($"doc_id", size($"ws").cast("long").as("dl"),
        explode($"ws").as("term"))
      .filter($"term".isin(Bm25Terms: _*))
      .groupBy($"doc_id", $"dl", $"term").agg(count(lit(1)).as("tf"))
    val byTerm = Window.partitionBy($"term")
    val scored = tf.withColumn("df", count(lit(1)).over(byTerm))
      .crossJoin(stats)
      .withColumn("ppm", floor(lit(1e6)
        * (($"n" - $"df" + lit(0.5)) / ($"df" + lit(0.5)))
        * ($"tf" * lit(Bm25K1 + 1.0)
           / ($"tf" + lit(Bm25K1) * (lit(1.0 - Bm25B)
              + lit(Bm25B) * $"dl" * $"n" / $"sumdl")))).cast("long"))
    // Top-k via orderBy().limit(k): plans as TakeOrderedAndProject — a
    // distributed partial top-k (each partition keeps k, the driver
    // merges #partitions×k rows). The rank column is derived AFTER the
    // limit, so the only unpartitioned window in the plan runs over a
    // 10-row frame, never the corpus (the global row_number it replaces
    // funneled every scored doc through one partition).
    val w = Window.orderBy($"score_ppm".desc, $"doc_id")
    scored.groupBy($"doc_id")
      .agg(count(lit(1)).cast("int").as("n_terms"),
        sum($"ppm").as("score_ppm"))
      .orderBy($"score_ppm".desc, $"doc_id")
      .limit(10)
      .withColumn("rank", row_number().over(w))
      .select($"rank", $"doc_id", $"n_terms", $"score_ppm")
      .orderBy($"rank")
  }

  private val bm25Sql = {
    val terms = Bm25Terms.map(t => s"'$t'").mkString("[", ", ", "]")
    s"""WITH base AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
       |dl AS (SELECT doc_id, len(ws)::BIGINT AS dl FROM base),
       |stats AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS sumdl
       |          FROM dl),
       |tf AS (
       |  SELECT doc_id, dl, term, count(*) AS tf
       |  FROM (SELECT doc_id, len(ws)::BIGINT AS dl,
       |          unnest(ws) AS term FROM base)
       |  WHERE list_contains($terms, term)
       |  GROUP BY doc_id, dl, term),
       |scored AS (
       |  -- every fractional literal is ::DOUBLE: DuckDB otherwise parses
       |  -- them as DECIMAL and computes tf * 2.2 EXACTLY where the JVM
       |  -- rounds the double product — an ulp apart at floor boundaries
       |  SELECT doc_id,
       |    floor(1e6
       |      * ((n - df + (0.5)::DOUBLE) / (df + (0.5)::DOUBLE))
       |      * (tf * (${Bm25K1 + 1.0})::DOUBLE
       |         / (tf + ($Bm25K1)::DOUBLE * ((${1.0 - Bm25B})::DOUBLE
       |            + ($Bm25B)::DOUBLE * dl * n / sumdl))))::BIGINT AS ppm
       |  FROM (SELECT *, count(*) OVER (PARTITION BY term) AS df FROM tf),
       |    stats),
       |per AS (
       |  SELECT doc_id, count(*)::INT AS n_terms,
       |    sum(ppm)::BIGINT AS score_ppm
       |  FROM scored GROUP BY doc_id)
       |SELECT row_number() OVER (ORDER BY score_ppm DESC, doc_id)::INT
       |    AS rank, doc_id, n_terms, score_ppm
       |FROM per
       |ORDER BY score_ppm DESC, doc_id LIMIT 10""".stripMargin
  }

  /** Number of BPE merge rules qt14 learns. The oracle SQL unrolls one
    * CTE block per merge — regenerated automatically from this value. */
  private val BpeMergeCount = 6

  /** qt14: BPE merge-rule induction — TOKENIZER TRAINING as a corpus
    * operator (Sennrich et al. 2016). The reference ships only a
    * SentencePiece RUNTIME (F15); a data engine for LM pipelines also
    * needs to learn the vocab. Standard two-level shape: the corpus
    * collapses to a (word, count) VOCAB first (the only corpus-wide
    * pass — Zipf makes the vocab orders smaller than the corpus, and it
    * stays a DataFrame, never driver-side), then each merge iteration
    * is a pair-count aggregate over the vocab + a 1-ROW collect of the
    * argmax pair + a declarative `replace` rewrite. Counts are exact
    * integer sums; ties break (count desc, left asc, right asc) on both
    * engines, so the learned rules are hash-deterministic. Symbols are
    * space-joined chars with a </w> terminal, merged pairs rewritten
    * leftmost-non-overlapping — `replace` semantics agree between Spark
    * and DuckDB. */
  /** Reusable BPE merge-rule trainer over a symbolized (sym, w) vocab
    * frame (double-space-joined symbols; see [[bpeMerges]] for why the
    * delimiter is TWO spaces). Returns (rank, left, right, pair_count).
    *
    * Scale hygiene, invisible at the gate's 6 merges but decisive at a
    * production 30k-merge train:
    *  - `checkpointEvery`: every K accepted merges the vocab frame is
    *    [[graft.Materialize]]d — each merge otherwise stacks one `replace`
    *    projection onto the lineage, so plan analysis time grows
    *    linearly with merge count (and the pair-count subtree is
    *    re-analyzed every iteration). The vocab is Zipf-bounded (one
    *    row per distinct word), so materialization is cheap.
    *  - `batchK`: accept up to K mutually-disjoint pairs per pair-count
    *    pass — one distributed aggregate + one 1-collect amortized over
    *    K merges instead of a driver-coordinated job per merge. A
    *    candidate joins the batch only if its operand AND produced
    *    symbols are disjoint from every symbol the batch already
    *    touches; the count of such a pair is invariant under the
    *    batch's earlier merges. The argmax can still drift vs strict
    *    sequential BPE (a merge can CREATE a higher-count pair), so
    *    batchK > 1 is the standard fast-trainer approximation — the
    *    gate path runs batchK = 1, which is exactly sequential. */
  private[graft] def bpeTrain(
      vocab0: DataFrame, mergeCount: Int, batchK: Int = 1,
      checkpointEvery: Int = 8): Seq[(Int, String, String, Long)] = {
    val s = vocab0.sparkSession
    import s.implicits._
    var vocab = vocab0
    var sinceCkpt = 0
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var it = 1
    var exhausted = false
    while (it <= mergeCount && !exhausted) {
      val toks = split($"sym", "  ")
      val k = math.min(batchK, mergeCount - it + 1)
      val top = vocab
        // fully-merged single-token syms drop out BEFORE the explode:
        // Spark's sequence(1, 0) counts DOWN ([1, 0]) and element_at
        // throws under ANSI where DuckDB's generate_series(1,0) is []
        .where(size(toks) >= 2)
        .select($"w", explode(transform(sequence(lit(1), size(toks) - 1),
          i => struct(element_at(toks, i).as("l"),
            element_at(toks, i + 1).as("r")))).as("p"))
        .groupBy($"p.l", $"p.r").agg(sum($"w").as("n"))
        // candidate pool: the batch skips overlapping pairs, so fetch
        // a few extra rows beyond k (pool size is a heuristic — a
        // too-small pool just yields a smaller batch, never a wrong one)
        .orderBy($"n".desc, $"l", $"r").limit(if (k == 1) 1 else 4 * k)
        .collect()
      if (top.isEmpty) exhausted = true // corpus fully merged (or empty)
      else {
        val touched = scala.collection.mutable.Set[String]()
        var accepted = 0
        top.foreach { b =>
          val (l, r, n) = (b.getString(0), b.getString(1), b.getLong(2))
          val prod = l + r
          if (accepted < k &&
              !touched(l) && !touched(r) && !touched(prod)) {
            merges += ((it, l, r, n))
            it += 1
            accepted += 1
            touched ++= Seq(l, r, prod)
            vocab = vocab.select(trim(replace(
              concat(lit(" "), $"sym", lit(" ")),
              lit(s" $l  $r "), lit(s" $l$r "))).as("sym"), $"w")
          }
        }
        sinceCkpt += accepted
        if (sinceCkpt >= checkpointEvery && it <= mergeCount) {
          vocab = graft.Materialize(vocab)
          sinceCkpt = 0
        }
      }
    }
    merges.result()
  }

  /** (word, count) → symbolized (sym, w) BPE vocab.
    * DOUBLE-space token delimiter: a ' l  r ' -> ' lr ' replacement
    * then consumes only ONE delimiter space per side, so consecutive
    * adjacent occurrences ("b a n a n a": both 'a n's) all merge in a
    * single leftmost pass — exactly the canonical greedy token scan.
    * A single-space join under-merges (the shared middle space is
    * consumed by the first match) and silently diverges from BPE. */
  private[graft] def bpeVocabOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select(explode(words($"text")).as("word"))
      .filter(length($"word") > 0)
      .groupBy($"word").agg(count(lit(1)).as("w"))
      .select(concat(expr(
        "concat_ws('  ', transform(sequence(1, length(word)), " +
          "i -> substring(word, i, 1)))"), lit("  </w>")).as("sym"), $"w")
  }

  private def bpeMerges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // every merge iteration rereads the vocab
    val base = graft.Materialize(bpeVocabOf(Tables(s, dir).documents))
    // batchK = 1: the oracle unrolls STRICT sequential merges
    val merges = bpeTrain(base, BpeMergeCount, batchK = 1)
    s.createDataFrame(merges)
      .toDF("merge_rank", "left", "right", "pair_count")
      .orderBy($"merge_rank")
  }

  private lazy val bpeMergesSql = {
    // every CTE is MATERIALIZED: v{k-1} is referenced twice per level
    // and b{k} four times — DuckDB re-inlines plain CTEs, which makes
    // the chain EXPONENTIAL in BpeMergeCount (measured 384 s at 6
    // merges on sf0.01 vs sub-second materialized)
    val blocks = (1 to BpeMergeCount).map { k =>
      s"""p$k AS MATERIALIZED (
         |  SELECT t[i] AS l, t[i+1] AS r, sum(w)::BIGINT AS n
         |  FROM (SELECT t, w,
         |          unnest(generate_series(1, len(t) - 1)) AS i
         |        FROM (SELECT string_split(sym, '  ') AS t, w
         |              FROM v${k - 1}) s0) s1
         |  GROUP BY 1, 2),
         |b$k AS MATERIALIZED (
         |  SELECT l, r, n FROM p$k ORDER BY n DESC, l, r LIMIT 1),
         |v$k AS MATERIALIZED (
         |  SELECT trim(replace(' ' || sym || ' ',
         |      concat(' ', (SELECT l FROM b$k), '  ', (SELECT r FROM b$k),
         |        ' '),
         |      concat(' ', (SELECT l FROM b$k), (SELECT r FROM b$k),
         |        ' '))) AS sym, w
         |  FROM v${k - 1})""".stripMargin
    }.mkString(",\n")
    val out = (1 to BpeMergeCount).map(k =>
      s"SELECT $k AS merge_rank, l AS \"left\", r AS \"right\", " +
        s"n AS pair_count FROM b$k").mkString("\nUNION ALL ")
    s"""WITH wd AS MATERIALIZED (
       |  SELECT word, count(*) AS w FROM (
       |    SELECT unnest(string_split(lower(text), ' ')) AS word
       |    FROM documents)
       |  WHERE length(word) > 0 GROUP BY word),
       |v0 AS MATERIALIZED (
       |  SELECT array_to_string(list_transform(
       |      generate_series(1, length(word)), i -> word[i:i]), '  ')
       |    || '  </w>' AS sym, w
       |  FROM wd),
       |$blocks
       |$out
       |ORDER BY merge_rank""".stripMargin
  }

  /** PMI minimum pair support (the standard low-count-pathology guard:
    * a hapax pair maximizes raw PMI) and report size. */
  private val PmiMinCount = 5
  private val PmiTopK = 20

  /** qt15: collocation mining — top adjacent word pairs by pointwise
    * mutual information (Church & Hanks 1990), the phrase-discovery
    * pass a tokenizer/vocab pipeline runs before merging multi-word
    * units. Log-free monotone form (same argument as qt11/qt13):
    * score = 1e6 · (c_xy·N·N)/(M·c_x·c_y) with both sides computing
    * the IDENTICAL double expression tree (row-level IEEE products and
    * divisions are bit-equal across engines; integer forms would
    * overflow BIGINT at corpus N). Pairs below [[PmiMinCount]] are cut
    * before scoring.
    *
    * Scale shape: one corpus pass aggregates pair counts (map-side
    * combine collapses repeats before the shuffle), unigram counts ride
    * the same scan via a second aggregate; scoring joins the
    * vocab-bounded count tables, never occurrences; top-k is
    * TakeOrderedAndProject with rank derived after the limit. */
  private def pmiCollocations(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables(s, dir).documents.select(words($"text").as("ws"))
    val occ = base.filter(size($"ws") > 1)
      .select(explode(transform(sequence(lit(1), size($"ws") - 1), i =>
        struct(element_at($"ws", i).as("w1"),
          element_at($"ws", i + 1).as("w2")))).as("bg"))
      .select($"bg.w1", $"bg.w2")
    val uni = base.select(explode($"ws").as("w"))
      .groupBy($"w").agg(count(lit(1)).as("c"))
    val totals = broadcast(
      uni.agg(sum($"c").as("n_tok"))
        .crossJoin(occ.groupBy().agg(count(lit(1)).as("n_pairs"))))
    val pairs = occ.groupBy($"w1", $"w2").agg(count(lit(1)).as("c_xy"))
      .filter($"c_xy" >= PmiMinCount)
    val scored = pairs
      .join(uni.select($"w".as("w1"), $"c".as("c_x")), "w1")
      .join(broadcast(uni.select($"w".as("w2"), $"c".as("c_y"))), "w2")
      .crossJoin(totals)
      .select($"w1", $"w2", $"c_xy",
        floor(lit(1e6) * (($"c_xy".cast("double") * $"n_tok" * $"n_tok")
          / ($"n_pairs".cast("double") * $"c_x" * $"c_y")))
          .cast("long").as("pmi_ppm"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"pmi_ppm".desc, $"w1", $"w2")
    scored.orderBy($"pmi_ppm".desc, $"w1", $"w2").limit(PmiTopK)
      .withColumn("rank", row_number().over(w))
      .select($"rank", $"w1", $"w2", $"c_xy", $"pmi_ppm")
      .orderBy($"rank")
  }

  private val pmiCollocationsSql =
    s"""WITH base AS (
       |  SELECT string_split(lower(text), ' ') AS ws FROM documents),
       |occ AS (
       |  SELECT ws[i] AS w1, ws[i + 1] AS w2
       |  FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
       |        FROM base WHERE len(ws) > 1)),
       |uni AS (
       |  SELECT w, count(*)::BIGINT AS c
       |  FROM (SELECT unnest(ws) AS w FROM base) GROUP BY w),
       |totals AS (
       |  SELECT (SELECT sum(c) FROM uni)::BIGINT AS n_tok,
       |         (SELECT count(*) FROM occ)::BIGINT AS n_pairs),
       |pairs AS (
       |  SELECT w1, w2, count(*)::BIGINT AS c_xy
       |  FROM occ GROUP BY w1, w2 HAVING count(*) >= $PmiMinCount),
       |scored AS (
       |  SELECT w1, w2, c_xy,
       |    floor(1e6 * ((c_xy::DOUBLE * n_tok * n_tok)
       |      / (n_pairs::DOUBLE * cx.c * cy.c)))::BIGINT AS pmi_ppm
       |  FROM pairs
       |  JOIN uni cx ON cx.w = pairs.w1
       |  JOIN uni cy ON cy.w = pairs.w2, totals)
       |SELECT row_number() OVER (ORDER BY pmi_ppm DESC, w1, w2)::INT
       |    AS rank, w1, w2, c_xy, pmi_ppm
       |FROM scored
       |ORDER BY pmi_ppm DESC, w1, w2 LIMIT $PmiTopK""".stripMargin

  private val ModelBuckets = 64

  /** qt17: linear quality-model INFERENCE — score every document with
    * a shipped bag-of-hashed-ngrams linear classifier (the fasttext
    * shape CCNet/DCLM pipelines apply corpus-wide after training
    * offline). The model here is weights-as-DATA: a (bucket, w_ppm)
    * table broadcast to the scan — exactly how a real trained model
    * ships — with deterministic md5-derived stand-in weights so the
    * gate can hash-check inference (training happens offline; the
    * ENGINE's job is the application pass). Per-doc logit is the mean
    * token weight in ppm (order-free integer sum; the sigmoid is
    * monotone, so thresholding the logit IS thresholding the
    * probability — no transcendental ever computed).
    *
    * Scale shape: one corpus pass (explode → bucket → broadcast join →
    * per-doc agg); the weight table is O(buckets). Weights live in
    * [0, 1e6] with the decision threshold at the 5e5 midpoint (bias
    * absorbed) so every division stays non-negative — floor-vs-
    * truncation divergence between engines only exists below zero. */
  private def qualityModel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val weights = broadcast(s.range(ModelBuckets.toLong)
      .select($"id".as("b"),
        (conv(substring(md5(to_binary(concat(lit("w|"), $"id".cast("string")),
          lit("utf-8"))), 1, 8), 16, 10).cast("long")
          % 1000001L).as("w_ppm")))
    val tok = Tables(s, dir).documents
      .select($"doc_id", explode(words($"text")).as("w"))
      .select($"doc_id",
        CurationQueries.md5Bucket($"w", ModelBuckets).as("b"))
    tok.join(weights, "b")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum($"w_ppm").as("sum_ppm"))
      .select($"doc_id", $"n_tokens",
        expr("sum_ppm div n_tokens").as("logit_ppm"),
        (expr("sum_ppm div n_tokens") >= 500000L).cast("int").as("kept"))
      .orderBy($"doc_id")
  }

  private val qualityModelSql =
    s"""WITH weights AS (
       |  SELECT b, ('0x' || substr(md5('w|' || b), 1, 8))::BIGINT
       |      % 1000001 AS w_ppm
       |  FROM (SELECT unnest(generate_series(0, ${ModelBuckets - 1})) AS b)),
       |tok AS (
       |  SELECT doc_id,
       |    ${CurationQueries.md5BucketSql("w", ModelBuckets)} AS b
       |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
       |        FROM documents)),
       |per AS (
       |  SELECT doc_id, count(*)::BIGINT AS n_tokens,
       |    sum(w_ppm)::BIGINT AS sum_ppm
       |  FROM tok JOIN weights USING (b) GROUP BY doc_id)
       |SELECT doc_id, n_tokens,
       |  (sum_ppm // n_tokens)::BIGINT AS logit_ppm,
       |  ((sum_ppm // n_tokens) >= 500000)::INT AS kept
       |FROM per ORDER BY doc_id""".stripMargin

  override val defs: Map[String, QueryDef] = Map(
    "qt17_quality_model" -> QueryDef(qualityModel, Some(qualityModelSql)),
    "qt15_pmi_collocations" -> QueryDef(pmiCollocations,
      Some(pmiCollocationsSql)),
    "qt14_bpe_merges" -> QueryDef(bpeMerges, Some(bpeMergesSql),
      bench = true),
    "qt12_lm_score" -> QueryDef(lmScore, Some(lmScoreSql), bench = true),
    "qt13_bm25" -> QueryDef(bm25, Some(bm25Sql), bench = true),
    "qt11_tfidf" -> QueryDef(tfidf, Some(tfidfSql)),
    "qt09_c4_filters" -> QueryDef(c4Filters, Some(c4FiltersSql)),
    "qt10_normalize" -> QueryDef(normalize, Some(normalizeSql)),
    "qt07_repetition" -> QueryDef(repetition, Some(repetitionSql)),
    "qt08_redact" -> QueryDef(redact, Some(redactSql)),
    "qt06_top_bigrams" -> QueryDef(topBigrams, Some(topBigramsSql)),
    "qt01_text_stats" -> QueryDef(stats, Some(statsSql)),
    "qt02_token_count" -> QueryDef(tokens, Some(tokensSql)),
    "qt03_lang_id" -> QueryDef(langId, Some(langIdSql)),
    "qt16_lang_confusion" -> QueryDef(langConfusion,
      Some(langConfusionSql)),
    "qt04_quality_score" -> QueryDef(quality, Some(qualitySql)),
    "qt05_fingerprint" -> QueryDef(fingerprint, Some(fingerprintSql)),
  )
}
