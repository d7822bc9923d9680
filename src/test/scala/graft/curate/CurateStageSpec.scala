package graft.curate

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** CurateStage laws: the sequential funnel matches an independent
  * brute-force recomputation, exact duplicates keep one survivor (the
  * flag-parallel design bug), null text drops at quality instead of
  * crashing the shingle kernel, decontamination drops exactly the
  * overlap (both sides asserted), a run leaves no cache behind once
  * closed (or once it fails), and the CLI stage round-trips. */
class CurateStageSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def docsDf() = graft.Tables(spark, sf).documents

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  private def lc(s: String): String =
    s.toLowerCase(java.util.Locale.ROOT)

  private def grams(t: String): Set[String] = {
    val ws = lc(t).split(" ", -1)
    if (ws.length >= 5) ws.sliding(5).map(_.mkString(" ")).toSet
    else Set(ws.mkString(" "))
  }

  test("wordCount counts what size(split(text, \" \")) counts") {
    import spark.implicits._
    import org.apache.spark.sql.types.StringType
    val texts = graft.functions.ShingleHashSpec.hostile ++ Seq(
      "", " ", "a", " a", "a ", " a ", "a  b", "a   b  c ", "\t", "a\tb",
      "\t a \t", "\u00a0 \u2003 \u3000", "😀 😀")
    val invalid = Seq(Array[Byte](0x41, 0x20, 0xff.toByte, 0x20, 0x42),
      Array[Byte](0xc3.toByte, 0x20, 0x61, 0x20, 0xed.toByte, 0xa0.toByte,
        0xbd.toByte, 0x20, 0x62), Array[Byte](0x20, 0xe2.toByte, 0x82.toByte),
      Array[Byte](0xf0.toByte, 0x20, 0x9f.toByte, 0x20))
    val df = texts.toDF("text").union(
      invalid.toDF("b").select($"b".cast(StringType).as("text")))
    val rows = df.select($"text", CurateStage.wordCount($"text"),
      size(split($"text", " "))).collect()
    assert(rows.length == texts.length + invalid.length)
    rows.foreach(r => assert(r.getInt(1) == r.getInt(2), s"text: ${r.get(0)}"))
    val nul = Seq(Option.empty[String]).toDF("text")
      .select(CurateStage.wordCount($"text")).head()
    assert(nul.isNullAt(0))
  }

  test("curated set equals brute-force sequential funnel") {
    import spark.implicits._
    val docs = docsDf().select($"doc_id", $"text", $"lang")
      .as[(Long, String, String)].collect().toSeq
    val opts = CurateStage.CurateOptions(
      minWords = 30, maxDupFrac = 0.5,
      rates = Seq("en" -> 80), defaultRate = 50, gramK = 5)

    def quality(t: String): Boolean = t != null && {
      val ws = t.split(" ", -1)
      val meanLen = (t.length - (ws.length - 1)).toDouble / ws.length
      ws.length >= 30 && meanLen >= 3.0 && meanLen <= 10.0 &&
        !lc(t).contains("lorem ipsum") && !t.contains("{") &&
        !lc(t).contains("javascript")
    }
    def mixKept(id: Long, lang: String): Boolean = {
      val bucket = (java.lang.Long.parseLong(
        md5hex(id.toString).take(6), 16) % 100).toInt
      bucket < (if (lang == "en") 80 else 50)
    }
    def funnel(rows: Seq[(Long, String, String)]): Set[Long] = {
      val s2 = rows.filter(d => quality(d._2) && mixKept(d._1, d._3))
      val s3 = s2.groupBy(d => md5hex(d._2))
        .map { case (_, ds) => ds.minBy(_._1) }.toSeq
      val df = s3.flatMap(d => grams(d._2).map(_ -> d._1))
        .groupBy(_._1).map { case (g, rs) => g -> rs.map(_._2).toSet.size }
      s3.filter { d =>
        val gs = grams(d._2)
        gs.count(g => df(g) >= 2).toDouble / gs.size <= 0.5
      }.map(_._1).toSet
    }

    // hostile rows, ids above the fixture's and mix-kept: a verbatim
    // copy of a doc that passes quality but is mix-dropped (the copy is
    // its group's lowest SURVIVING id, so it must keep), a one-word
    // edit of a curated doc (a near copy), and a null-text row
    val ids = Iterator.from(docs.map(_._1).max.toInt + 1).map(_.toLong)
      .filter(mixKept(_, "en"))
    val (copyId, nearId, nullId) = (ids.next(), ids.next(), ids.next())
    val twin = docs.find(d => quality(d._2) && !mixKept(d._1, d._3)).get
    val curated0 = funnel(docs)
    val base = docs.find(d => curated0.contains(d._1)).get
    val hostile = Seq(
      (copyId, twin._2, "en"),
      (nearId, base._2.split(" ").init.mkString(" ") + " zzzz", "en"),
      (nullId, null.asInstanceOf[String], "en"))
    val withHostile = docsDf().select($"doc_id", $"text", $"lang")
      .union(hostile.toDF("doc_id", "text", "lang"))
    assert(funnel(docs ++ hostile).contains(copyId),
      "the mix-dropped twin's copy should survive exact dedup")

    Seq(docsDf() -> docs, withHostile -> (docs ++ hostile)).foreach {
      case (input, rows) =>
        val want = funnel(rows)
        val res = CurateStage.run(input, opts)
        val got = res.curated.select($"doc_id").as[Long].collect().toSet
        val st = res.stats.collect().head
        res.close()
        assert(got == want)
        assert(st.getAs[Long]("n_docs") == rows.length)
        assert(st.getAs[Long]("n_curated") == want.size)
        // funnel counts are monotone non-increasing
        val counts = Seq("quality_keep", "mix_keep", "exact_keep",
          "span_keep", "decontam_keep").map(st.getAs[Long])
        assert(counts == counts.sorted.reverse, counts.mkString(","))
        assert(want.nonEmpty && want.size < rows.length,
          s"degenerate funnel: ${want.size}/${rows.length}")
    }
  }

  test("exact duplicates keep one survivor; null text drops cleanly") {
    import spark.implicits._
    // 40 four-char words: passes min-words AND the mean-word-length band
    val body = ("word " * 40).trim
    val docs = Seq(
      (1L, body, "en"),
      (2L, body, "en"),          // verbatim duplicate of 1
      (3L, null.asInstanceOf[String], "en"), // raw-crawl null text
      (4L, ("xray " * 40).trim, "en")
    ).toDF("doc_id", "text", "lang")
    val res = CurateStage.run(docs, CurateStage.CurateOptions(
      minWords = 30, maxDupFrac = 0.5, defaultRate = 100))
    val kept = res.curated.select($"doc_id").as[Long].collect().toSet
    res.close()
    // the duplicate GROUP must survive as its min doc_id — the span
    // filter sees the deduped corpus, so the pair reads as one doc
    assert(kept.contains(1L), s"canonical duplicate copy dropped: $kept")
    assert(!kept.contains(2L), s"non-canonical copy kept: $kept")
    assert(!kept.contains(3L), s"null-text doc kept: $kept")
    assert(kept.contains(4L), kept.toString)
  }

  test("near-dup stage keeps one survivor per verified cluster, " +
    "including chains; off by default") {
    import spark.implicits._
    // three near-identical docs (A~B~C chain via small suffix edits)
    // plus one unrelated doc; bodies pass quality
    val base = ("alpha beta gamma delta epsi " * 12).trim
    val docs = Seq(
      (1L, base + " tail one", "en"),
      (2L, base + " tail two", "en"),
      (3L, base + " tail tri", "en"),
      (4L, ("other words here okay fine " * 12).trim, "en")
    ).toDF("doc_id", "text", "lang")
    val on = CurateStage.run(docs, CurateStage.CurateOptions(
      minWords = 30, maxDupFrac = 1.0, defaultRate = 100,
      nearDupJaccard = Some(0.5)))
    val keptOn = on.curated.select($"doc_id").as[Long].collect().toSet
    val statsOn = on.stats.collect().head
    on.close()
    assert(keptOn === Set(1L, 4L), s"near-dup cluster not pruned: $keptOn")
    assert(statsOn.getAs[Long]("near_keep") === 2L)
    // disabled → near_keep mirrors exact_keep and nothing is pruned
    val off = CurateStage.run(docs, CurateStage.CurateOptions(
      minWords = 30, maxDupFrac = 1.0, defaultRate = 100))
    val keptOff = off.curated.select($"doc_id").as[Long].collect().toSet
    val statsOff = off.stats.collect().head
    off.close()
    assert(keptOff === Set(1L, 2L, 3L, 4L))
    assert(statsOff.getAs[Long]("near_keep") ===
      statsOff.getAs[Long]("exact_keep"))
    // qd27 plumbing: a generous bucket cap changes nothing; a cap of 1
    // drops every >1-member candidate bucket, so the chain's pairs
    // vanish and all three members survive as singletons
    val capped = CurateStage.run(docs, CurateStage.CurateOptions(
      minWords = 30, maxDupFrac = 1.0, defaultRate = 100,
      nearDupJaccard = Some(0.5), lshBucketCap = Some(1000)))
    val keptCapped = capped.curated.select($"doc_id").as[Long]
      .collect().toSet
    capped.close()
    assert(keptCapped === keptOn)
    val tiny = CurateStage.run(docs, CurateStage.CurateOptions(
      minWords = 30, maxDupFrac = 1.0, defaultRate = 100,
      nearDupJaccard = Some(0.5), lshBucketCap = Some(1)))
    val keptTiny = tiny.curated.select($"doc_id").as[Long].collect().toSet
    tiny.close()
    assert(keptTiny === Set(1L, 2L, 3L, 4L))
  }

  test("soft dedup keeps every cluster member with weight_ppm = " +
    "1e6/|cluster|; singletons weigh 1e6; requires near-dup") {
    import spark.implicits._
    val base = ("alpha beta gamma delta epsi " * 12).trim
    val docs = Seq(
      (1L, base + " tail one", "en"),
      (2L, base + " tail two", "en"),
      (3L, base + " tail tri", "en"),
      (4L, ("other words here okay fine " * 12).trim, "en")
    ).toDF("doc_id", "text", "lang")
    // DEFAULT maxDupFrac: the span stage must not re-delete the
    // cluster soft mode deliberately kept (span statistics run over
    // one representative per cluster; members inherit the verdict)
    val soft = CurateStage.run(docs, CurateStage.CurateOptions(
      minWords = 30, defaultRate = 100,
      nearDupJaccard = Some(0.5), softDedup = true))
    val got = soft.curated.select($"doc_id", $"weight_ppm")
      .as[(Long, Long)].collect().toMap
    val statsSoft = soft.stats.collect().head
    soft.close()
    // the A~B~C cluster is KEPT (weight 1e6/3), the singleton weighs 1e6
    assert(got == Map(1L -> 333333L, 2L -> 333333L, 3L -> 333333L,
      4L -> 1000000L), s"weights: $got")
    assert(statsSoft.getAs[Long]("near_keep") === 4L)
    // soft mode without the near-dup stage is a contract violation
    assertThrows[IllegalArgumentException](
      CurateStage.run(docs, CurateStage.CurateOptions(softDedup = true)))
    // hard mode's curated schema is unchanged (no weight column)
    val hard = CurateStage.run(docs, CurateStage.CurateOptions(
      minWords = 30, maxDupFrac = 1.0, defaultRate = 100,
      nearDupJaccard = Some(0.5)))
    assert(!hard.curated.columns.contains("weight_ppm"))
    hard.close()
  }

  test("containment stage drops the excerpt, keeps its superset and " +
    "bystanders; off by default; soft-dedup combination rejected") {
    import spark.implicits._
    val big = (1 to 100).map(i => f"tok$i%03d")
    val docs = Seq(
      (1L, big.slice(30, 70).mkString(" "), "en"), // excerpt of 2
      (2L, big.mkString(" "), "en"),
      (3L, (1 to 60).map(i => f"oth$i%03d").mkString(" "), "en")
    ).toDF("doc_id", "text", "lang")
    val on = CurateStage.run(docs, CurateStage.CurateOptions(
      minWords = 30, maxDupFrac = 1.0, defaultRate = 100,
      containmentTau = Some(0.6)))
    val keptOn = on.curated.select($"doc_id").as[Long].collect().toSet
    val statsOn = on.stats.collect().head
    on.close()
    assert(keptOn === Set(2L, 3L), s"excerpt not dropped: $keptOn")
    assert(statsOn.getAs[Long]("cont_keep") === 2L)
    // off by default: cont_keep mirrors near_keep, nothing dropped
    val off = CurateStage.run(docs, CurateStage.CurateOptions(
      minWords = 30, maxDupFrac = 1.0, defaultRate = 100))
    val keptOff = off.curated.select($"doc_id").as[Long].collect().toSet
    off.close()
    assert(keptOff === Set(1L, 2L, 3L))
    // unsupported combination fails loudly, never guesses
    assertThrows[IllegalArgumentException](CurateStage.run(docs,
      CurateStage.CurateOptions(nearDupJaccard = Some(0.5),
        softDedup = true, containmentTau = Some(0.6))))
  }

  test("span scrub cuts a cross-doc duplicated run from BOTH docs, " +
    "preserves casing, leaves unique docs verbatim; off by default") {
    import spark.implicits._
    val f1 = (1 to 30).map(i => f"worda$i%02d").mkString(" ")
    val f2 = (1 to 30).map(i => f"wordb$i%02d").mkString(" ")
    val f3 = (1 to 30).map(i => f"Wordc$i%02d").mkString(" ")
    // the shared run differs in CASE between the two docs — matching
    // must fold, reconstruction must not
    val docs = Seq(
      (1L, "Alpha Betas Gamma Delta Epsil " + f1, "en"),
      (2L, f2 + " alpha betas gamma delta epsil", "en"),
      (3L, f3, "en")
    ).toDF("doc_id", "text", "lang")
    val on = CurateStage.run(docs, CurateStage.CurateOptions(
      minWords = 30, maxDupFrac = 1.0, defaultRate = 100,
      spanScrub = true))
    val textsOn = on.curated.select($"doc_id", $"text")
      .as[(Long, String)].collect().toMap
    on.close()
    assert(textsOn(1L) == f1, "run not cut from doc 1 (or case lost)")
    assert(textsOn(2L) == f2, "run not cut from doc 2 (or case lost)")
    assert(textsOn(3L) == f3, "unique doc rewritten")
    // disabled → text passes through untouched
    val off = CurateStage.run(docs, CurateStage.CurateOptions(
      minWords = 30, maxDupFrac = 1.0, defaultRate = 100))
    val textsOff = off.curated.select($"doc_id", $"text")
      .as[(Long, String)].collect().toMap
    off.close()
    assert(textsOff(1L).startsWith("Alpha Betas"))
    assert(textsOff(2L).endsWith("delta epsil"))
  }

  test("span scrub honors scrubMinRun and scrubDfCeil: a short shared " +
    "idiom and a corpus-hot gram both survive the production settings") {
    import spark.implicits._
    val fills = (1 to 4).map(d =>
      (1 to 30).map(i => f"word$d%d$i%02d").mkString(" "))
    // docs 1/2 share a 5-token run; docs 1..4 all contain the same
    // 5-gram idiom (df = 4); unique fill separates them so no
    // crossing gram widens either shared region
    val idiom = "On The Other Hand So"
    val docs = Seq(
      (1L, "Alpha Betas Gamma Delta Epsil " + fills(0) + " " + idiom, "en"),
      (2L, idiom + " " + fills(1) + " alpha betas gamma delta epsil", "en"),
      (3L, fills(2) + " " + idiom, "en"),
      (4L, idiom + " " + fills(3), "en")
    ).toDF("doc_id", "text", "lang")
    // production regime: minRun 10 (> both shared runs) → nothing cut
    val strict = CurateStage.run(docs, CurateStage.CurateOptions(
      minWords = 30, maxDupFrac = 1.0, defaultRate = 100,
      spanScrub = true, scrubMinRun = 10))
    val tStrict = strict.curated.select($"doc_id", $"text")
      .as[(Long, String)].collect().toMap
    strict.close()
    assert(tStrict(1L).startsWith("Alpha Betas Gamma"),
      "minRun=10 scrubbed a 5-token run")
    assert(tStrict(3L).endsWith(idiom), "minRun=10 scrubbed the idiom")
    // minRun 1 + df ceiling 3: the df=4 idiom is pruned from the dup
    // set (survives in all four docs) while the df=2 run is cut
    val ceil = CurateStage.run(docs, CurateStage.CurateOptions(
      minWords = 30, maxDupFrac = 1.0, defaultRate = 100,
      spanScrub = true, scrubMinRun = 1, scrubDfCeil = Some(3)))
    val tCeil = ceil.curated.select($"doc_id", $"text")
      .as[(Long, String)].collect().toMap
    ceil.close()
    assert(!tCeil(1L).contains("Alpha Betas"), "df<=ceil run not cut")
    assert(tCeil(1L).endsWith(idiom), "hot idiom cut from doc 1")
    assert(tCeil(3L).endsWith(idiom), "hot idiom cut from doc 3")
    assert(tCeil(4L).startsWith(idiom), "hot idiom cut from doc 4")
  }

  test("decontamination drops exactly the overlapping docs (both sides)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("curate_ev").toString
    // eval set = verbatim copies of some corpus docs, schema is text-ONLY
    // (the natural benchmark-dump shape)
    val eval = docsDf().filter($"doc_id" % 100 === 0).select($"text")
    eval.write.mode("overwrite").parquet(s"$tmp/eval.parquet")
    val evalTexts = eval.as[String].collect().map(grams).reduce(_ ++ _)
    val opts = CurateStage.CurateOptions(
      minWords = 0, maxDupFrac = 1.0, defaultRate = 100,
      evalPath = Some(s"$tmp/eval.parquet"))
    val res = CurateStage.run(docsDf(), opts)
    val kept = res.curated.select($"doc_id").as[Long].collect().toSet
    res.close()
    import spark.implicits._
    val expectKept = docsDf().select($"doc_id", $"text")
      .as[(Long, String)].collect()
      .filter { case (_, t) => grams(t).forall(g => !evalTexts.contains(g)) }
      .map(_._1).toSet
    assert(kept == expectKept)
    assert(kept.nonEmpty && kept.size < docsDf().count(),
      s"degenerate decontam: ${kept.size}")
  }

  test("token-budget stage picks the per-source greedy md5 prefix of " +
    "the survivors; needs a source column; disabled mode passes through") {
    import spark.implicits._
    // two sources, trivially-passing quality (minWords=1), all texts
    // distinct and span-clean — the funnel reduces to the budget stage
    val docs = (0L until 40L).map { i =>
      val src = if (i % 2 == 0) "alpha" else "beta"
      // unique 6-word texts: no exact dups, no shared 5-grams
      (i, s"u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f", "en", src)
    }.toDF("doc_id", "text", "lang", "source")
    val res = CurateStage.run(docs, CurateStage.CurateOptions(
      minWords = 1, tokenBudgetDiv = Some(4)))
    val got = res.curated.select($"doc_id").as[Long].collect().toSet
    val st = res.stats.collect().head
    res.close()
    // brute-force replay: every doc has 6 tokens; per-source mass 120,
    // equal weights, B = 240 div 4 = 60 → quota_tok = 30 per source →
    // 5 docs per source, the 5 smallest by md5(doc_id) hex
    def pick(src: String): Set[Long] = (0L until 40L)
      .filter(i => (if (i % 2 == 0) "alpha" else "beta") == src)
      .sortBy(id => (md5hex(id.toString), id)).take(5).toSet
    assert(st.getAs[Long]("budget_keep") == 10L)
    assert(st.getAs[Long]("n_curated") == 10L)
    assert(got == pick("alpha") ++ pick("beta"))
    // without the option, budget_keep rides decontam_keep and the
    // curated set is the full survivor set
    val off = CurateStage.run(docs, CurateStage.CurateOptions(minWords = 1))
    val stOff = off.stats.collect().head
    off.close()
    assert(stOff.getAs[Long]("budget_keep") ==
      stOff.getAs[Long]("decontam_keep"))
    assert(stOff.getAs[Long]("n_curated") == 40L)
    // a sourceless input fails loudly
    val e = intercept[IllegalArgumentException](CurateStage.run(
      docs.drop("source"),
      CurateStage.CurateOptions(minWords = 1, tokenBudgetDiv = Some(4))))
    assert(e.getMessage.contains("source"))
  }

  test("a run that fails releases every cache it made; close() releases " +
    "the flag frame of one that succeeds") {
    import spark.implicits._
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val docs = (0L until 8L).map { i =>
      (i, s"u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f", "en",
        if (i == 3) null else "alpha")
    }.toDF("doc_id", "text", "lang", "source")
    val opts = CurateStage.CurateOptions(minWords = 1,
      tokenBudgetDiv = Some(4))
    val before = persisted
    val e = intercept[IllegalArgumentException](CurateStage.run(docs, opts))
    assert(e.getMessage.contains("NULL source"))
    assert((persisted -- before).isEmpty,
      s"failed run leaked ${persisted -- before}")
    val res = CurateStage.run(docs.na.fill("alpha", Seq("source")), opts)
    assert(res.curated.count() > 0)
    res.close()
    assert((persisted -- before).isEmpty,
      s"closed run leaked ${persisted -- before}")
  }

  test("CLI --stage curate writes curated parquet and audit stats") {
    val tmp = java.nio.file.Files.createTempDirectory("curate_cli").toString
    docsDf().write.mode("overwrite").parquet(s"$tmp/docs.parquet")
    val stats = graft.Pipeline.run(spark, graft.Pipeline.parseArgs(Array(
      "--stage", "curate", "--input", s"$tmp/docs.parquet",
      "--save-path", s"$tmp/out", "--rates", "en=80", "--default-rate",
      "50")))
    val st = stats.collect().head
    val out = spark.read.parquet(s"$tmp/out")
    assert(out.count() == st.getAs[Long]("n_curated"))
    assert(out.columns.toSet ==
      docsDf().columns.toSet, out.columns.mkString(","))
  }
}
