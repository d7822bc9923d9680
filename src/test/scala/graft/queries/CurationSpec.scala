package graft.queries

import graft.SparkSpec
import graft.queries.CurationQueries.GramK
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Laws for the curation suite (qd11/qd12/qs05) beyond the DuckDB gate:
  * brute-force equivalence on the fixture, structural invariants, and
  * plan-shape checks that the gate's value-hash can't see. */
class CurationSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def q(name: String) =
    graft.SparkEntry.queries(name)(spark, sf)

  /** Distinct k-word shingles, md5-truncated to 16 hex chars — the only
    * payload that ever enters a shuffle in qd11. This declarative form is
    * the cross-check of the production `ShingleHash` kernel (md5 inside a
    * Catalyst HOF runs interpreted, ~10× the kernel's cost). */
  private def shingleHashes(ws: Column): Column = {
    val sh = when(size(ws) >= GramK,
      transform(sequence(lit(1), size(ws) - (GramK - 1)), i =>
        concat_ws(" ",
          (0 until GramK).map(o => element_at(ws, i + o)): _*)))
      .otherwise(array(concat_ws(" ", ws)))
    array_distinct(transform(sh, x =>
      substring(md5(to_binary(x, lit("utf-8"))), 1, 16)))
  }

  test("qd11: eval docs are excluded and hits imply contamination") {
    val rows = q("qd11_decontam").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val docId = r.getLong(0)
      assert(docId % 7 != 0, s"eval doc $docId leaked into train output")
      val nGrams = r.getLong(1)
      val nHits = r.getInt(2)
      val contaminated = r.getInt(3)
      assert(nHits >= 0 && nHits <= nGrams)
      assert((nHits > 0) == (contaminated == 1))
    }
  }

  test("qd11: n_hits equals brute-force set intersection per doc") {
    import spark.implicits._
    val docs = graft.Tables(spark, sf).documents
      .select($"doc_id", $"text").as[(Long, String)].collect()
    def grams(t: String): Set[String] = {
      val ws = t.toLowerCase.split(" ", -1)
      if (ws.length >= 5) ws.sliding(5).map(_.mkString(" ")).toSet
      else Set(ws.mkString(" "))
    }
    val evalGrams = docs.filter(_._1 % 7 == 0).flatMap(d => grams(d._2)).toSet
    val want = docs.filter(_._1 % 7 != 0)
      .map(d => d._1 -> grams(d._2).count(evalGrams.contains)).toMap
    val got = q("qd11_decontam").collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(got == want)
  }

  test("qd12: dup_frac is consistent and bounded") {
    val rows = q("qd12_dup_spans").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nSpans = r.getLong(1)
      val nDup = r.getInt(2)
      val frac = r.getDouble(3)
      assert(nDup >= 0 && nDup <= nSpans)
      assert(math.abs(frac - nDup.toDouble / nSpans) < 1e-6)
    }
  }

  test("qd12: exact duplicate docs have dup_frac 1 on their shared spans") {
    import spark.implicits._
    // two identical synthetic docs + one unique: shared spans must all
    // count as duplicated, the unique doc's as not
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g h"),
      (3L, "q r s t u v w x")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("qd12").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // reuse fixture parquet for the other tables not touched by qd12
    val out = graft.SparkEntry.queries("qd12_dup_spans")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toMap
    assert(out(1L) == 1.0 && out(2L) == 1.0 && out(3L) == 0.0)
  }

  test("qs05: kept set equals the greedy lower-id ε-ball rule") {
    import spark.implicits._
    val e = graft.Tables(spark, sf).embeddings
      .select($"vec_id", $"label", $"embedding")
      .as[(Long, Int, Array[Float])].collect().sortBy(_._1)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val want = e.map { case (id, label, emb) =>
      val pruned = e.exists { case (id2, label2, emb2) =>
        label2 == label && id2 < id &&
          BigDecimal(cos(emb2, emb)).setScale(6,
            BigDecimal.RoundingMode.HALF_UP).toDouble >= 0.3
      }
      id -> (if (pruned) 0 else 1)
    }.toMap
    val got = q("qs05_semdedup").collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(got == want)
  }

  test("qs05 prunes a non-trivial subset at sf0.01") {
    val rows = graft.SparkEntry.queries("qs05_semdedup")(
      spark, "/root/testdata/sf0.01").collect()
    val kept = rows.count(_.getInt(2) == 1)
    assert(kept > 0 && kept < rows.length,
      s"degenerate prune: $kept of ${rows.length}")
  }

  test("qc01: kept ⇔ bucket < rate, and realized mix tracks the rates") {
    val rows = graft.SparkEntry.queries("qc01_mix_sample")(
      spark, "/root/testdata/sf0.01").collect()
    rows.foreach { r =>
      val (bucket, rate, kept) = (r.getInt(2), r.getInt(3), r.getInt(4))
      assert(bucket >= 0 && bucket < 100)
      assert((bucket < rate) == (kept == 1))
    }
    // per-language realized fraction within ±20pp of the dialed rate
    // (hash uniformity at n≈60-220 docs per language)
    rows.groupBy(_.getString(1)).foreach { case (lang, rs) =>
      val rate = rs.head.getInt(3)
      val frac = 100.0 * rs.count(_.getInt(4) == 1) / rs.length
      assert(math.abs(frac - rate) <= 20.0,
        s"$lang: realized $frac%% vs dialed $rate%%")
    }
  }

  test("qt11: per-doc top-3 matches brute-force tf-idf ranking") {
    import spark.implicits._
    val docs = graft.Tables(spark, sf).documents
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val n = docs.length
    val tf = docs.flatMap { case (id, t) =>
      t.toLowerCase.split(" ", -1).groupBy(identity).map {
        case (w, ws) => (id, w, ws.length.toLong) }
    }
    val df = tf.groupBy(_._2).map { case (w, rs) => w -> rs.length.toLong }
    val want = tf.groupBy(_._1).toSeq.flatMap { case (id, terms) =>
      terms.map { case (_, w, c) =>
        val score = BigDecimal(c * ((n + 1.0) / (df(w) + 1.0)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (id, w, score)
      }.sortBy { case (_, w, sc) => (-sc, w) }.take(3).toSeq
        .zipWithIndex.map { case ((_, w, sc), i) => (id, i + 1, w, sc) }
    }.toSet
    val got = graft.SparkEntry.queries("qt11_tfidf")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(5)))
      .toSet
    assert(got == want)
  }

  test("shingle kernel equals the declarative HOF form value-for-value") {
    import spark.implicits._
    val docs = graft.Tables(spark, sf).documents.select($"doc_id", $"text")
    val kernel = graft.functions.ShingleHash.exploded(docs, 5)
      .as[(Long, String)].collect().toSet
    val hof = docs.select($"doc_id",
        explode(shingleHashes(split(lower($"text"), " ")))
          .as("sh"))
      .as[(Long, String)].collect().toSet
    assert(kernel == hof)
    // the shuffle payload is the 16-hex truncation, never raw text
    assert(kernel.forall(_._2.matches("[0-9a-f]{16}")))
  }

  test("qc06: DSIR scores equal the brute-force hashed-bucket model " +
    "and the selection is score-maximal") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables(spark, sf).documents
      .select($"doc_id", $"lang", $"text")
      .as[(Long, String, String)].collect()
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bucket(w: String): Long =
      java.lang.Long.parseLong(md5hex(w).take(8), 16) % 64
    val toks = docs.map { case (id, lang, t) =>
      (id, lang, t.toLowerCase.split(" ", -1).toSeq.map(bucket))
    }
    val cr = toks.flatMap(_._3).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val ct = toks.filter(_._2 == "en").flatMap(_._3).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val tr = cr.values.sum; val tt = ct.values.sum
    val rPpm = cr.keys.map { b =>
      val pt = 1000000L * (ct.getOrElse(b, 0L) + 1) / (tt + 64)
      val pr = 1000000L * (cr(b) + 1) / (tr + 64)
      b -> 1000000L * pt / pr
    }.toMap
    val want = toks.map { case (id, _, bs) =>
      id -> bs.map(rPpm).sum / bs.length
    }.toMap
    val got = graft.SparkEntry.queries("qc06_dsir_select")(spark, sf)
      .select($"doc_id", $"score_ppm").as[(Long, Long)].collect().toMap
    got.foreach { case (id, s) => assert(s === want(id), s"doc $id") }
    // selected docs carry the globally maximal scores (the md5 order
    // only breaks ties WITHIN a score)
    val unselectedMax = want.filterNot(k => got.contains(k._1)).values
      .maxOption.getOrElse(Long.MinValue)
    assert(got.values.min >= unselectedMax)
    // and the target domain is actually favored: mean selected score
    // exceeds the corpus mean (sanity that the ratio model discriminates)
    val all = want.values
    assert(got.values.sum / got.size >= all.sum / all.size)
  }

  test("qd21: scrub equals the brute-force covered-position cut per doc") {
    import spark.implicits._
    val docs = graft.Tables(spark, sf).documents
      .select($"doc_id", $"text").as[(Long, String)].collect()
    def grams(ws: Array[String]): Array[String] =
      if (ws.length >= 5) ws.sliding(5).map(_.mkString(" ")).toArray
      else Array(ws.mkString(" "))
    val docGrams = docs.map { case (id, t) =>
      id -> t.toLowerCase.split(" ", -1) }
    val dup = docGrams.flatMap { case (_, ws) => grams(ws).distinct }
      .groupBy(identity).collect { case (g, hits) if hits.length >= 2 => g }
      .toSet
    val want = docGrams.map { case (id, ws) =>
      val span = math.min(5, ws.length)
      val covered = grams(ws).zipWithIndex.collect {
        case (g, i) if dup(g) => i + 1
      }.flatMap(s => s until s + span).toSet
      val kept = ws.indices.filter(j => !covered(j + 1)).map(ws)
      id -> ((ws.length, ws.length - kept.length, kept.mkString(" ")))
    }.toMap
    val got = q("qd21_span_scrub")
      .as[(Long, Int, Int, String)].collect()
    assert(got.nonEmpty)
    got.foreach { case (id, n, rm, scrubbed) =>
      assert(want(id) == ((n, rm, scrubbed)), s"doc $id") }
    assert(got.map(_._1).toSet == want.keySet)
    // the fixture's near-dup families make the scrub non-vacuous, and
    // unique docs survive untouched
    assert(got.exists(_._3 > 0), "no dup span scrubbed — vacuous fixture")
    assert(got.exists(r => r._3 == 0 && r._4.nonEmpty))
  }

  test("qd21: a planted cross-doc run is cut from BOTH docs, " +
    "non-dup docs pass through verbatim") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"),   // shared run at pos 1..5
      (2L, "x y a b c d e z"),   // same run at pos 3..7
      (3L, "p q r s t u"))       // unique
      .toDF("doc_id", "text")
    val sh = graft.functions.ShingleHash.exploded(docs, 5)
    val dup = sh.groupBy($"sh").agg(count(lit(1)).as("df"))
      .filter($"df" >= 2).select($"sh")
    val pos = graft.functions.ShingleHash.positional(docs, 5)
    val out = CurationQueries.spanScrubFrom(docs, pos, dup)
      .as[(Long, Int, Int, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 8, 5, "f g h"),
      (2L, 8, 5, "x y z"),
      (3L, 6, 0, "p q r s t u")))
  }

  test("spanScrubFrom cuts the gram width it was BUILT with, not a " +
    "fixed 5") {
    import spark.implicits._
    // one duplicated 3-gram "a b c" across two docs; with gramK = 3
    // exactly the 3 covered tokens are cut — a fixed 5-wide cut would
    // also delete the innocent "d e" tail
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "a b c x y")).toDF("doc_id", "text")
    val sh = graft.functions.ShingleHash.exploded(docs, 3)
    val dup = CurationQueries.gramDfFrom(sh)
      .filter($"df" >= 2).select($"sh")
    val pos = graft.functions.ShingleHash.positional(docs, 3)
    val out = CurationQueries.spanScrubFrom(docs, pos, dup, gramK = 3)
      .as[(Long, Int, Int, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 5, 3, "d e"),
      (2L, 5, 3, "x y")))
  }

  test("qd25: a doc sharing only a short idiom survives intact while " +
    "a long duplicated run is scrubbed (min-run threshold)") {
    import spark.implicits._
    // docs 1/2 share a 12-token run (>= minRun 10 → scrubbed); docs
    // 3/4 share only the 5-token idiom "on the other hand so" (< 10 →
    // Lee et al. would NOT scrub it; the qd21 posture would shred it)
    val run = (1 to 12).map(i => f"dup$i%02d").mkString(" ")
    val docs = Seq(
      (1L, run + " tail1a tail1b tail1c"),
      (2L, "head2a head2b " + run),
      (3L, "on the other hand so we kept going further today"),
      (4L, "they stood on the other hand so nothing was lost"))
      .toDF("doc_id", "text")
    val sh = graft.functions.ShingleHash.exploded(docs, 5)
    val dup = sh.groupBy($"sh").agg(count(lit(1)).as("df"))
      .filter($"df" >= 2).select($"sh")
    val pos = graft.functions.ShingleHash.positional(docs, 5)
    val out = CurationQueries.spanScrubRunsFrom(docs, pos, dup,
        minRun = 10)
      .as[(Long, Int, Int, String)].collect().sortBy(_._1)
    assert(out(0) == ((1L, 15, 12, "tail1a tail1b tail1c")))
    assert(out(1) == ((2L, 14, 12, "head2a head2b")))
    // idiom-only docs pass through VERBATIM
    assert(out(2)._3 == 0 && out(2)._4.startsWith("on the other hand"))
    assert(out(3)._3 == 0 && out(3)._4.startsWith("they stood on"))
  }

  test("qd25: grams above the df ceiling never enter the dup set — " +
    "docs sharing only a corpus-hot idiom survive even at min-run 1") {
    import spark.implicits._
    // the same 5-gram in 5 docs: df = 5 > ceiling 3 → pruned from the
    // dup set BEFORE position matching (the 100 TB fan-out guard)
    val docs = (1L to 5L).map(i =>
      (i, s"on the other hand so unique${i}a unique${i}b unique${i}c"))
      .toDF("doc_id", "text")
    val sh = graft.functions.ShingleHash.exploded(docs, 5)
    val dup = sh.groupBy($"sh").agg(count(lit(1)).as("df"))
      .filter($"df" >= 2 && $"df" <= 3).select($"sh")
    val pos = graft.functions.ShingleHash.positional(docs, 5)
    val out = CurationQueries.spanScrubRunsFrom(docs, pos, dup,
        minRun = 1)
      .as[(Long, Int, Int, String)].collect()
    assert(out.forall(_._3 == 0), "hot-idiom gram caused a scrub")
  }

  test("qd25 with minRun = 1 and no ceiling reproduces qd21 exactly " +
    "on the fixture") {
    val docs = graft.Tables(spark, sf).documents
      .select(col("doc_id"), col("text"))
    val sh = graft.functions.ShingleHash.exploded(docs, 5)
    val dup = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select(col("sh"))
    val pos = graft.functions.ShingleHash.positional(docs, 5)
    val legacy = CurationQueries.spanScrubFrom(docs, pos, dup)
      .collect().toSeq
    val runs1 = CurationQueries.spanScrubRunsFrom(docs, pos, dup,
      minRun = 1).collect().toSeq
    assert(runs1 == legacy)
  }

  test("qd29: a planted exact run is reported once, with its TRUE " +
    "variable length and both 1-based starts") {
    import spark.implicits._
    // docs 1/2 share an exact 7-token run ("c d e f g h i") at
    // different offsets; doc 3 is unique filler
    val docs = Seq(
      (1L, "a b c d e f g h i j k l"),   // run at pos 3..9
      (2L, "x y z w c d e f g h i q r"), // run at pos 5..11
      (3L, "p0 p1 p2 p3 p4 p5 p6 p7"))
      .toDF("doc_id", "text")
    val pos = graft.functions.ShingleHash.positional(docs, 3)
    val out = CurationQueries.substringMatchesFrom(pos, 3, 5)
      .as[(Long, Int, Long, Int, Int)].collect().toSeq
    assert(out == Seq((1L, 3, 2L, 5, 7)))
  }

  test("qd29: no chimeras — overlapping matches against DIFFERENT " +
    "partners stay separate matches, where coverage-merge (qd25 " +
    "grain) would stitch one long false run") {
    import spark.implicits._
    // doc 1 = t1..t12; doc 2 repeats t1..t8; doc 3 repeats t5..t12.
    // Coverage of dup 3-grams in doc 1 is ALL of 1..12 (one merged
    // 12-token "run" that repeats nowhere as a whole); exact matching
    // must report two 8-token matches instead.
    val t = (1 to 12).map(i => s"t$i")
    val docs = Seq(
      (1L, t.mkString(" ")),
      (2L, t.take(8).mkString(" ")),
      (3L, t.drop(4).mkString(" ")))
      .toDF("doc_id", "text")
    val pos = graft.functions.ShingleHash.positional(docs, 3)
    val out = CurationQueries.substringMatchesFrom(pos, 3, 5)
      .as[(Long, Int, Long, Int, Int)].collect().toSeq
    assert(out == Seq(
      (1L, 1, 2L, 1, 8),   // t1..t8 vs doc 2
      (1L, 5, 3L, 1, 8)))  // t5..t12 vs doc 3
    // the residual t5..t8 overlap of docs 2/3 is 4 tokens < minLen 5
    // and is correctly gated; no 12-token chimera appears anywhere
    assert(!out.exists(_._5 > 8))
  }

  test("qd29: within-doc tandem repeats are found (Lee et al. dedup " +
    "within documents too)") {
    import spark.implicits._
    // "m1..m6 m1..m6" — the 6-token block repeats at pos 7
    val block = (1 to 6).map(i => s"m$i").mkString(" ")
    val docs = Seq((1L, s"$block $block"), (2L, "u v w x y z"))
      .toDF("doc_id", "text")
    val pos = graft.functions.ShingleHash.positional(docs, 3)
    val out = CurationQueries.substringMatchesFrom(pos, 3, 5)
      .as[(Long, Int, Long, Int, Int)].collect().toSeq
    assert(out == Seq((1L, 1, 1L, 7, 6)))
  }

  test("qd29 coverage law: at minLen = gramK, the union of cross-doc " +
    "match intervals equals qd21's covered-position set per doc") {
    import spark.implicits._
    val docsDf = graft.Tables(spark, sf).documents
      .select($"doc_id", $"text")
    val pos = graft.functions.ShingleHash.positional(docsDf, 5)
    // cross-doc exact matches at the gram grain (minLen = k = 5)
    val matches = CurationQueries.substringMatchesFrom(pos, 5, 5)
      .filter($"a_id" =!= $"b_id")
      .as[(Long, Int, Long, Int, Int)].collect()
    val covered = scala.collection.mutable.Map
      .empty[Long, scala.collection.mutable.Set[Int]]
    def mark(id: Long, start: Int, len: Int): Unit = {
      val s0 = covered.getOrElseUpdate(id,
        scala.collection.mutable.Set.empty[Int])
      (start until start + len).foreach(s0 += _)
    }
    matches.foreach { case (a, as0, b, bs, len) =>
      mark(a, as0, len); mark(b, bs, len) }
    // qd21's covered set = n_removed per doc (its scrub cuts exactly
    // the covered positions)
    val removed = q("qd21_span_scrub")
      .select($"doc_id", $"n_removed").as[(Long, Int)].collect().toMap
    assert(removed.nonEmpty && matches.nonEmpty)
    removed.foreach { case (id, rm) =>
      assert(covered.get(id).map(_.size).getOrElse(0) == rm,
        s"doc $id: qd29 coverage ${covered.get(id).map(_.size)} vs " +
          s"qd21 removed $rm")
    }
  }

  test("qd30: a planted exact run is one segment row PER OCCURRENCE " +
    "with the true length and multiplicity — not a pair row") {
    import spark.implicits._
    // the qd29 fixture: docs 1/2 share an exact 7-token run
    val docs = Seq(
      (1L, "a b c d e f g h i j k l"),   // run at pos 3..9
      (2L, "x y z w c d e f g h i q r"), // run at pos 5..11
      (3L, "p0 p1 p2 p3 p4 p5 p6 p7"))
      .toDF("doc_id", "text")
    val pos = graft.functions.ShingleHash.positional(docs, 3)
    val out = CurationQueries.substrRepeatSegmentsFrom(pos, 3, 5)
      .as[(Long, Int, Int, Long)].collect().toSeq
    assert(out == Seq((1L, 3, 7, 2L), (2L, 5, 7, 2L)))
  }

  test("qd30 branching decomposition: where a SUBSET of occurrences " +
    "extends, segments split at the branch point with the right " +
    "multiplicities (no chimeras, class-wise)") {
    import spark.implicits._
    // doc 1 = t1..t12; doc 2 = t1..t8; doc 3 = t5..t12 (the qd29
    // no-chimera fixture). Branching structure: t1..t6 is a segment
    // of class {1,2}; t5..t8 of class {1,2,3}; t7..t12 of {1,3} —
    // adjacent segments overlap by k−1 because segment boundaries are
    // GRAM starts and each gram carries k tokens.
    val t = (1 to 12).map(i => s"t$i")
    val docs = Seq(
      (1L, t.mkString(" ")),
      (2L, t.take(8).mkString(" ")),
      (3L, t.drop(4).mkString(" ")))
      .toDF("doc_id", "text")
    val pos = graft.functions.ShingleHash.positional(docs, 3)
    // minLen 3 = k keeps ALL segments so the decomposition is visible
    val out = CurationQueries.substrRepeatSegmentsFrom(pos, 3, 3)
      .as[(Long, Int, Int, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 1, 6, 2L),  // t1..t6       class {doc1, doc2}
      (1L, 5, 4, 3L),  // t5..t8       class {doc1, doc2, doc3}
      (1L, 7, 6, 2L),  // t7..t12      class {doc1, doc3}
      (2L, 1, 6, 2L),
      (2L, 5, 4, 3L),
      (3L, 1, 4, 3L),
      (3L, 3, 6, 2L)))
    // and the minLen gate is per SEGMENT: at 5 the 3-way middle
    // segment (len 4) drops while both 2-way flanks stay
    val gated = CurationQueries.substrRepeatSegmentsFrom(pos, 3, 5)
      .as[(Long, Int, Int, Long)].collect().toSeq
    assert(gated == Seq((1L, 1, 6, 2L), (1L, 7, 6, 2L),
      (2L, 1, 6, 2L), (3L, 3, 6, 2L)))
  }

  test("qd30: within-doc tandem repeats merge into ONE periodic " +
    "stretch row; non-overlapping within-doc repeats stay two rows") {
    import spark.implicits._
    val m = (1 to 6).map(i => s"m$i").mkString(" ")
    val b = (1 to 6).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      (1L, s"$m $m"),       // adjacent tandem, period 6
      (2L, s"$b u v w $b"), // separated repeat (distinct block)
      (3L, "q r s t q r s t q r"))  // overlapping period-4 run
      .toDF("doc_id", "text")
    val pos = graft.functions.ShingleHash.positional(docs, 3)
    val out = CurationQueries.substrRepeatSegmentsFrom(pos, 3, 5)
      .as[(Long, Int, Int, Long)].collect().toSeq
    // doc 1: m1..m4 grams recur at +6 → positions 1..4 and 7..10 are
    // two islands of one class (the tandem's two copies); doc 2 the
    // same shape at +9; doc 3's period-4 run merges into one
    // 10-token stretch (every gram pos 1..8 recurs at +4 — one
    // island, where qd29 reports the overlapping pairwise match)
    assert(out == Seq(
      (1L, 1, 6, 2L), (1L, 7, 6, 2L),
      (2L, 1, 6, 2L), (2L, 10, 6, 2L),
      (3L, 1, 10, 2L)))
  }

  test("qd30/qd29 coverage law: the union of segment intervals at " +
    "minLen = k equals the union of qd29 match intervals per doc") {
    import spark.implicits._
    val docsDf = graft.Tables(spark, sf).documents
      .select($"doc_id", $"text")
    val pos = graft.functions.ShingleHash.positional(docsDf, 5)
    def coverOf(rows: Seq[(Long, Int, Int)]) = {
      val m = scala.collection.mutable.Map
        .empty[Long, scala.collection.mutable.Set[Int]]
      rows.foreach { case (id, s0, len) =>
        val set = m.getOrElseUpdate(id,
          scala.collection.mutable.Set.empty[Int])
        (s0 until s0 + len).foreach(set += _)
      }
      m.map { case (k, v) => (k, v.toSet) }.toMap
    }
    val seg = coverOf(CurationQueries
      .substrRepeatSegmentsFrom(pos, 5, 5)
      .select($"doc_id", $"start", $"match_len")
      .as[(Long, Int, Int)].collect().toSeq)
    val pair = coverOf(CurationQueries.substringMatchesFrom(pos, 5, 5)
      .select($"a_id", $"a_start", $"match_len")
      .as[(Long, Int, Int)].collect().toSeq ++
      CurationQueries.substringMatchesFrom(pos, 5, 5)
        .select($"b_id", $"b_start", $"match_len")
        .as[(Long, Int, Int)].collect().toSeq)
    assert(seg.nonEmpty && seg == pair,
      s"segment cover ${seg.view.mapValues(_.size).toMap} vs qd29 " +
        s"cover ${pair.view.mapValues(_.size).toMap}")
  }

  test("ksDriftFrom: a single-source corpus yields null drift (no " +
    "rest-of-corpus), not a division error or silent nulls mismatch") {
    import spark.implicits._
    val counts = Seq(("only", 0, 5L), ("only", 1, 7L))
      .toDF("source", "bin", "n")
    val out = QualityQueries.ksDriftFrom(spark, counts).collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(r.isNullAt(4) && r.isNullAt(5),
        "single-source drift must be null")
    }
  }

  test("positional kernel matches the declarative per-position " +
    "HOF form value-for-value") {
    import spark.implicits._
    val docs = graft.Tables(spark, sf).documents
      .select($"doc_id", $"text").limit(200)
    val ws = split(lower($"text"), " ")
    val shs = when(size(ws) >= 5,
      transform(sequence(lit(1), size(ws) - 4), i =>
        concat_ws(" ", (0 until 5).map(o => element_at(ws, i + o)): _*)))
      .otherwise(array(concat_ws(" ", ws)))
    val declarative = docs
      .select($"doc_id", posexplode(transform(shs, x =>
        substring(md5(to_binary(x, lit("utf-8"))), 1, 16))))
      .select($"doc_id", ($"pos" + 1).as("pos"), $"col".as("sh"))
      .as[(Long, Int, String)].collect().sorted
    val kernel = graft.functions.ShingleHash.positional(docs, 5)
      .as[(Long, Int, String)].collect().sorted
    assert(kernel.toSeq == declarative.toSeq)
  }
}
