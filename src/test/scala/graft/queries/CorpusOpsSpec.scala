package graft.queries

import graft.SparkSpec

/** Laws for the round-4 corpus analytics additions (qt12 LM score,
  * qt13 BM25, qd13 KMV sketch, qc02 temperature mix) beyond the DuckDB
  * gate: brute-force equivalence on the fixture and estimator-error
  * bounds the gate's value-hash can't express. */
class CorpusOpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def q(name: String) =
    graft.SparkEntry.queries(name)(spark, sf)

  private def docs: Array[(Long, String, String)] = {
    import spark.implicits._
    graft.Tables(spark, sf).documents
      .select($"doc_id", $"text", $"source")
      .as[(Long, String, String)].collect()
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("qt12: per-doc LM score equals the brute-force bigram model") {
    val all = docs
    def ws(t: String) = t.toLowerCase.split(" ", -1).toSeq
    val bigrams = all.map { case (id, t, _) =>
      id -> ws(t).sliding(2).filter(_.length == 2)
        .map(p => (p(0), p(1))).toSeq
    }.toMap
    val c12 = bigrams.values.flatten
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val unis = all.flatMap { case (_, t, _) => ws(t) }
    val c1 = unis.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val v = unis.distinct.length.toLong
    val want = all.map { case (id, _, _) =>
      val ppms = bigrams(id).map { case (w1, w2) =>
        math.floor(1e6 * (c12((w1, w2)) + 1) / (c1(w1) + v)).toLong
      }
      id -> ((ppms.length.toLong, ppms.sum,
        if (ppms.isEmpty) 0L else ppms.sum / ppms.length))
    }.toMap
    val got = q("qt12_lm_score").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == want)
  }

  test("qt13: BM25 top-10 equals brute-force scoring") {
    val terms = Seq("spark", "vector", "stream", "merge")
    val all = docs
    def ws(t: String) = t.toLowerCase.split(" ", -1).toSeq
    val n = all.length.toLong
    val sumdl = all.map { case (_, t, _) => ws(t).length.toLong }.sum
    val tf = all.map { case (id, t, _) =>
      val w = ws(t)
      (id, w.length.toLong,
        terms.map(q => q -> w.count(_ == q).toLong).filter(_._2 > 0).toMap)
    }
    val df = terms.map(t => t -> tf.count(_._3.contains(t)).toLong).toMap
    val scored = tf.map { case (id, dl, tfs) =>
      val ppm = tfs.map { case (t, f) =>
        math.floor(1e6
          * ((n - df(t) + 0.5) / (df(t) + 0.5))
          * (f * 2.2 / (f + 1.2 * (0.25 + 0.75 * dl * n / sumdl)))).toLong
      }.sum
      (id, tfs.size, ppm)
    }.filter(_._2 > 0)
    val want = scored.sortBy { case (id, _, s) => (-s, id) }.take(10)
      .zipWithIndex
      .map { case ((id, nt, s), i) => (i + 1, id, nt, s) }.toSeq
    val got = q("qt13_bm25").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSeq
    assert(got == want)
  }

  test("qd13: kth hash is exact; estimate within KMV error bounds") {
    val all = docs
    def bgs(t: String): Set[String] = {
      val w = t.toLowerCase.split(" ", -1)
      w.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSet
    }
    val bySrc = all.groupBy(_._3).view.mapValues(
      ds => ds.flatMap(d => bgs(d._2)).toSet).toMap
    val got = q("qd13_kmv_distinct").collect()
    assert(got.map(_.getString(0)).toSet == bySrc.keySet)
    got.foreach { r =>
      val (src, nd, kth, est) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val hashes = bySrc(src).map(b =>
        java.lang.Long.parseLong(md5hex(b).take(15), 16)).toSeq.sorted
      assert(nd == hashes.length)
      val k = math.min(64, hashes.length)
      assert(kth == hashes(k - 1), s"$src kth")
      if (nd < 64) assert(est == nd)
      else {
        // KMV relative std error ~ 1/sqrt(k-2) ≈ 13% at k=64; 4σ bound
        assert(math.abs(est.toDouble - nd) / nd < 0.52,
          s"$src est=$est exact=$nd")
      }
    }
  }

  test("qe07: discrete quantiles equal brute sort-and-pick per group") {
    import spark.implicits._
    val events = graft.Tables(spark, sf).events
      .select($"event_type", $"value").as[(String, Double)].collect()
    val want = events.groupBy(_._1).map { case (t, vs) =>
      val sorted = vs.map(_._2).sorted
      def pick(p: Double) = sorted(math.ceil(p * sorted.length).toInt - 1)
      t -> ((sorted.length.toLong, pick(0.5), pick(0.9), pick(0.99),
        sorted.head, sorted.last))
    }
    val got = q("qe07_value_quantiles").collect().map(r =>
      r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))).toMap
    assert(got == want)
    got.values.foreach { case (_, p50, p90, p99, vmin, vmax) =>
      assert(vmin <= p50 && p50 <= p90 && p90 <= p99 && p99 <= vmax)
    }
  }

  test("qd14: Bloom filter never false-negatives; flags are consistent") {
    val rows = q("qd14_bloom_prefilter").collect().map(r =>
      (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3),
        r.getInt(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (src, probe, maybe, actual, fp) =>
      // THE Bloom law: present ⇒ maybe (no false negatives)…
      if (actual == 1) assert(maybe == 1, s"$src/$probe false negative")
      // …and the fp flag is exactly (maybe ∧ ¬present)
      assert(fp == (if (maybe == 1 && actual == 0) 1 else 0))
      // fabricated probe terms are never actually present
      if (probe.contains("absent")) assert(actual == 0)
    }
    // corpus-frequent probes must be genuinely present somewhere
    assert(rows.exists { case (_, p, _, a, _) => p == "spark" && a == 1 })
  }

  test("qc03: ranks are the exact permutation of (score desc, doc_id)") {
    import spark.implicits._
    val want = graft.Tables(spark, sf).documents
      .select($"doc_id", $"n_chars").as[(Long, Long)].collect()
      .sortBy { case (id, sc) => (-sc, id) }
      .zipWithIndex.map { case ((id, sc), i) => (i + 1L, id, sc) }.toSeq
    val got = q("qc03_curriculum").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want)
  }

  test("qc02: allocations follow floor(B·w/Σw); sample is the md5 head") {
    val all = docs
    val rows = q("qc02_temperature_mix").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    // stratum sizes from the raw table (source only at sf0.001? lang too)
    import spark.implicits._
    val strata = graft.Tables(spark, sf).documents
      .select($"source", $"lang", $"doc_id")
      .as[(String, String, Long)].collect()
      .groupBy(t => (t._1, t._2))
    val w = strata.view.mapValues(
      g => math.floor(1e6 * math.sqrt(g.length.toDouble)).toLong).toMap
    val totalW = w.values.sum
    val budget = 200L
    rows.groupBy(r => (r._1, r._2)).foreach { case (key, rs) =>
      val alloc = math.min(budget * w(key) / totalW,
        strata(key).length.toLong)
      assert(rs.forall(_._4 == alloc))
      assert(rs.length == alloc, s"$key realized ${rs.length} != $alloc")
      assert(rs.forall(_._3 == strata(key).length))
      // the realized ids are exactly the alloc-smallest md5 ranks
      val wantIds = strata(key).toSeq
        .sortBy(t => (md5hex(t._3.toString), t._3))
        .take(alloc.toInt).map(_._3).toSet
      assert(rs.map(_._6).toSet == wantIds)
    }
    assert(rows.length <= budget)
  }

  test("qt16: confusion matrix recounts qt03's predictions exactly " +
    "and shares sum to ~1e6 per true lang") {
    import spark.implicits._
    val preds = graft.SparkEntry.queries("qt03_lang_id")(spark, sf)
      .select($"lang", $"pred_lang").as[(String, String)].collect()
    val want = preds.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val rows = graft.SparkEntry.queries("qt16_lang_confusion")(spark, sf)
      .collect()
    rows.foreach { r =>
      assert(want((r.getString(0), r.getString(1))) === r.getLong(2))
    }
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSet ===
      want.keySet)
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val tot = rs.map(_.getLong(3)).sum
      // floor per cell: the shares undershoot 1e6 by < #cells
      assert(tot <= 1000000L && tot > 1000000L - rs.length)
    }
  }

  test("qa05: trailing-window spike ratios equal the JVM replay") {
    import spark.implicits._
    val evs = graft.Tables(spark, sf).events
      .select($"event_type",
        org.apache.spark.sql.functions.date_trunc("hour", $"ts")
          .cast("long"))
      .as[(String, Long)].collect()
    val hourly = evs.groupBy(identity).view.mapValues(_.size.toLong)
      .toMap.toSeq.map { case ((t, h), n) => (t, h, n) }
    val want = hourly.groupBy(_._1).flatMap { case (t, rows) =>
      val ordered = rows.sortBy(_._2)
      ordered.flatMap { case (_, h, n) =>
        // trailing 24 CALENDAR hours (observed rows within the range)
        val trail = ordered
          .filter(x => x._2 >= h - 24L * 3600 && x._2 < h).map(_._3)
        if (trail.length >= 12) {
          val ratio = 1000000L * n * trail.length / trail.sum
          Some((t, h) -> (n, trail.sum, trail.length.toLong, ratio,
            if (ratio >= 2000000L) 1 else 0))
        } else None
      }
    }
    val got = graft.SparkEntry.queries("qa05_spike_detect")(spark, sf)
      .select($"event_type", $"h".cast("long"), $"n", $"trail_sum",
        $"trail_n", $"ratio_ppm", $"spike")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getInt(6))).toMap
    assert(got.keySet === want.keySet)
    want.foreach { case (k, v) => assert(got(k) === v, k.toString) }
  }

  test("qd18: layout sweep obeys the S-curve monotonicities and the " +
    "production layout's verified count matches qd04") {
    val rows = graft.SparkEntry.queries("qd18_lsh_tuning")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).toSeq === Seq(8, 4, 2))
    // verified ⊆ candidates; fewer/wider bands → fewer candidates AND
    // no more verified pairs (recall can only drop)
    rows.foreach { case (_, _, cand, ver, prec) =>
      assert(ver <= cand)
      assert(prec === 1000000L * ver / math.max(cand, 1L))
    }
    assert(rows.map(_._3).toSeq === rows.map(_._3).toSeq.sorted.reverse)
    assert(rows.map(_._4).toSeq === rows.map(_._4).toSeq.sorted.reverse)
    // the (4,2) row is the production layout: its verified count must
    // equal qd04's pair count exactly
    val qd04 = graft.SparkEntry.queries("qd04_ngram_jaccard")(spark, sf)
      .count()
    assert(rows.find(_._1 == 4).get._4 === qd04)
  }

  test("qt17: model inference equals the brute-force weighted mean " +
    "and kept == (logit >= threshold)") {
    val all = docs
    def bucket(w: String): Long =
      java.lang.Long.parseLong(md5hex(w).take(8), 16) % 64
    val wPpm = (0 until 64).map(b =>
      b.toLong -> java.lang.Long.parseLong(
        md5hex(s"w|$b").take(8), 16) % 1000001L).toMap
    val want = all.map { case (id, t, _) =>
      val bs = t.toLowerCase.split(" ", -1).toSeq.map(bucket)
      val logit = bs.map(wPpm).sum / bs.length
      id -> (bs.length.toLong, logit, if (logit >= 500000L) 1 else 0)
    }.toMap
    val got = graft.SparkEntry.queries("qt17_quality_model")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getInt(3))).toMap
    assert(got === want)
    // both classes are realized on the fixture (the model cuts)
    assert(got.values.map(_._3).toSet === Set(0, 1))
  }

  test("qa06: diff classes partition both snapshots and match the " +
    "simulated edit rules exactly") {
    import spark.implicits._
    val ids = graft.Tables(spark, sf).documents
      .select($"doc_id").as[Long].collect().toSeq
    val rows = graft.SparkEntry.queries("qa06_snapshot_diff")(spark, sf)
      .collect()
    val (added, removed, changed, unchanged) = (
      rows.map(_.getLong(1)).sum, rows.map(_.getLong(2)).sum,
      rows.map(_.getLong(3)).sum, rows.map(_.getLong(4)).sum)
    // the simulation's closed form: added = %7 ids, removed = ghost
    // rows (%11), changed = surviving %5 ids whose edit really changed
    // the hash (always: dropping the last char changes md5), rest
    // unchanged — and the classes partition curr ∪ ghosts
    assert(added === ids.count(_ % 7 == 0).toLong)
    assert(removed === ids.count(_ % 11 == 0).toLong)
    assert(changed === ids.count(i => i % 7 != 0 && i % 5 == 0).toLong)
    assert(added + changed + unchanged === ids.length.toLong)
  }

  test("qt15: PMI top-k matches the brute-force collocation ranking") {
    val all = docs
    def ws(t: String) = t.toLowerCase.split(" ", -1).toSeq
    val bgs = all.flatMap { case (_, t, _) =>
      val w = ws(t); if (w.length > 1) w.sliding(2).map(p => (p(0), p(1)))
      else Nil
    }
    val cXy = bgs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val unis = all.flatMap { case (_, t, _) => ws(t) }
    val cX = unis.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nTok = unis.size.toLong
    val nPairs = bgs.size.toLong
    val want = cXy.filter(_._2 >= 5).map { case ((a, b), c) =>
      (a, b, c, math.floor(1e6 *
        ((c.toDouble * nTok * nTok) / (nPairs.toDouble * cX(a) * cX(b))))
        .toLong)
    }.toSeq.sortBy(t => (-t._4, t._1, t._2)).take(20)
    val got = graft.SparkEntry.queries("qt15_pmi_collocations")(
      spark, sf).collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === want)
  }

  test("qd22: a planted 40-in-100-word subset is flagged by containment " +
    "and invisible to the jaccard gate; no false pair among unrelated docs") {
    import spark.implicits._
    val bw = (1 to 100).map(i => f"tok$i%03d")
    val df = Seq(
      (1L, bw.slice(30, 70).mkString(" ")),  // A ⊂ B, 40 words
      (2L, bw.mkString(" ")),                // B, 100 words
      (3L, (1 to 60).map(i => f"oth$i%03d").mkString(" ")))
      .toDF("doc_id", "text")
    val out = DedupQueries.containmentFrom(df)
      .as[(Long, Long, Long, Double, Double)].collect()
    assert(out.map(r => (r._1, r._2)).toSet == Set((1L, 2L)))
    val (_, _, shared, cont, jac) = out.head
    assert(shared == 38L && cont == 1.0, s"(shared=$shared, cont=$cont)")
    assert(jac < 0.5, s"planted pair would ALSO pass a jaccard gate: $jac")
    // the jaccard operator at its production threshold misses the pair
    val jacPairs = DedupQueries.jaccardFrom(df, 0.5)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    assert(!jacPairs.contains((1L, 2L)))
  }

  test("qd26: the sketch-side df ceiling drops only pairs whose every " +
    "bottom-k witness is corpus-hot; a generous ceiling changes nothing") {
    import spark.implicits._
    // docs 1/2: a true subset pair over UNIQUE shingles (df = 2).
    // docs 10..19: ten copies of one short text plus a per-doc tail —
    // every shared shingle there has df = 10, so with ceiling 5 their
    // sketch rows are all pruned and the copy-family pairs vanish,
    // while the 1/2 pair's witnesses (df = 2) survive untouched.
    val bw = (1 to 100).map(i => f"tok$i%03d")
    val hotTxt = (1 to 12).map(i => f"hot$i%03d").mkString(" ")
    val df = (Seq(
      (1L, bw.slice(30, 70).mkString(" ")),
      (2L, bw.mkString(" "))) ++
      (10L to 19L).map(i => (i, s"$hotTxt uniq${i}a uniq${i}b")))
      .toDF("doc_id", "text")
    val pure = DedupQueries.containmentFrom(df)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    val capped = DedupQueries.containmentFrom(df, sketchDfCeil = Some(5))
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    assert(pure.contains((1L, 2L)) && capped.contains((1L, 2L)))
    assert(pure.exists(p => p._1 >= 10L), "copy family absent from pure")
    assert(!capped.exists(p => p._1 >= 10L),
      "ceiling failed to prune the hot copy family")
    // ceiling above the max df = identical output, values included
    val loose = DedupQueries.containmentFrom(df, sketchDfCeil = Some(100))
      .collect().toSeq
    assert(loose == DedupQueries.containmentFrom(df).collect().toSeq)
  }

  test("qd24: the excerpt drops, its superset and bystanders keep; " +
    "equal-size ties keep the smaller doc_id; fixture law holds") {
    import spark.implicits._
    val bw = (1 to 100).map(i => f"tok$i%03d")
    val df = Seq(
      (1L, bw.slice(30, 70).mkString(" ")),   // A ⊂ B: the excerpt
      (2L, bw.mkString(" ")),                 // B: maximal, survives
      (3L, (1 to 60).map(i => f"oth$i%03d").mkString(" ")), // bystander
      (4L, bw.slice(30, 70).mkString(" ")))   // A twin: equal-size tie
      .toDF("doc_id", "text")
    // private query body exercised through the registered gate shape:
    // rebuild via the public queries map is fixture-bound, so drive
    // the operator parts directly
    val pairs = DedupQueries.containmentFrom(df)
      .as[(Long, Long, Long, Double, Double)].collect()
      .map(p => (p._1, p._2)).toSet
    assert(pairs == Set((1L, 2L), (1L, 4L), (2L, 4L)))
    val got = q("qd24_containment_keep") // fixture run: sanity only
    val cols = got.columns.toSeq
    assert(cols == Seq("doc_id", "n_sh", "n_containers", "kept"))
    // synthetic run through the same composition the query uses
    import org.apache.spark.sql.functions.{count, lit}
    val sh = graft.functions.ShingleHash.exploded(df, 3)
    // brute force: doc 1 contained in 2 (larger) and tied with 4
    // (equal size, larger id 4 drops); doc 4 contained in 2 AND loses
    // the tie with 1 → dropped; docs 2 and 3 keep
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    def containedSide(a: Long, b: Long): Long =
      if (sizes(a) < sizes(b)) a
      else if (sizes(b) < sizes(a)) b else math.max(a, b)
    val dropped = pairs.map { case (a, b) => containedSide(a, b) }
    assert(dropped == Set(1L, 4L))
    // fixture-level law: every dropped doc has at least one container,
    // every kept doc has none, and at least one doc is dropped (the
    // fixture plants near-subsets)
    val fx = got.as[(Long, Long, Long, Int)].collect()
    fx.foreach { case (id, _, nc, kept) =>
      assert((kept == 1) == (nc == 0L), s"doc $id")
    }
    assert(fx.exists(_._4 == 0), "no containment drop on the fixture")
  }

  test("qd22: emitted stats equal brute-force shingle-set arithmetic " +
    "on the fixture") {
    import spark.implicits._
    val ds = docs.map { case (id, t, _) => id -> t }.toMap
    def shSet(t: String): Set[String] = {
      val ws = t.toLowerCase.split(" ", -1)
      (if (ws.length >= 3) ws.sliding(3).map(_.mkString(" ")).toSeq
       else Seq(ws.mkString(" "))).toSet
    }
    val out = q("qd22_containment")
      .as[(Long, Long, Long, Double, Double)].collect()
    assert(out.nonEmpty)
    out.foreach { case (a, b, shared, cont, jac) =>
      val (sa, sb) = (shSet(ds(a)), shSet(ds(b)))
      val inter = (sa & sb).size
      assert(shared == inter, s"($a,$b) shared")
      assert(math.abs(cont - inter.toDouble / math.min(sa.size, sb.size))
        < 1e-6, s"($a,$b) containment")
      assert(math.abs(jac - inter.toDouble / (sa.size + sb.size - inter))
        < 1e-6, s"($a,$b) jaccard")
      assert(cont >= 0.6)
    }
  }

  test("qa08: per-source KS drift equals the brute-force CDF-gap scan") {
    import spark.implicits._
    val lens = graft.Tables(spark, sf).documents
      .select($"source", $"n_chars").as[(String, Long)].collect()
      .map { case (s, n) => (s, math.min(n / 50, 11L).toInt) }
    val occ = lens.map(_._2).distinct.sorted
    val grand = lens.length.toLong
    val bySrc = lens.groupBy(_._1)
    val want = bySrc.toSeq.flatMap { case (src, rows) =>
      val totS = rows.length.toLong
      occ.map { b =>
        val cumS = rows.count(_._2 <= b).toLong
        val cumR = lens.count(_._2 <= b).toLong - cumS
        val dPpm = math.abs(
          cumS * 1000000L / totS - cumR * 1000000L / (grand - totS))
        (src, b) -> ((cumS, cumR, dPpm))
      }
    }.toMap
    val ksWant = want.groupBy(_._1._1)
      .map { case (s, m) => s -> m.values.map(_._3).max }
    val got = q("qa08_length_drift")
      .as[(String, Int, Long, Long, Long, Long)].collect()
    assert(got.length == want.size)
    got.foreach { case (s, b, cumS, cumR, d, ks) =>
      assert(want((s, b)) == ((cumS, cumR, d)), s"($s, $b)")
      assert(ks == ksWant(s), s"ks($s)")
    }
    // the audit discriminates on the fixture: per-source KS values are
    // not all identical (some source is measurably shifted)
    assert(got.map(_._6).distinct.length > 1)
  }

  test("qd23: soft-dedup weights/draws equal brute force over qd09's " +
    "clusters; singletons always keep") {
    import spark.implicits._
    val clusters = q("qd09_dup_clusters")
      .select($"doc_id", $"cluster").as[(Long, Long)].collect()
    val csize = clusters.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val space = 1152921504606846976L // 2^60
    val want = clusters.map { case (id, c) =>
      val n = csize(c)
      val draw = java.lang.Long.parseLong(md5hex(s"$id:e0").take(15), 16)
      id -> ((c, n, 1000000L / n, draw,
        if (draw < space / n) 1 else 0))
    }.toMap
    val got = q("qd23_soft_dedup")
      .as[(Long, Long, Long, Long, Long, Int)].collect()
    assert(got.length == want.size)
    got.foreach { case (id, c, n, w, draw, kept) =>
      assert(want(id) == ((c, n, w, draw, kept)), s"doc $id")
      if (n == 1L) assert(kept == 1, s"singleton $id must keep")
    }
    // the realization discriminates on the fixture: at least one
    // cluster member is down-sampled away (kept = 0 exists), and the
    // weights are not all 1e6 (real clusters exist)
    assert(got.exists(_._6 == 0))
    assert(got.exists(_._4 < 1000000L))
  }

  test("qa10: embedding drift equals the brute-force ppm mean-vector " +
    "comparison; a label's periods are not identical") {
    import spark.implicits._
    val rows = graft.Tables(spark, sf).embeddings
      .select($"vec_id", $"embedding", $"label")
      .as[(Long, Seq[Float], String)].collect()
    val want = rows.groupBy(_._3).map { case (label, rs) =>
      def meanPpm(period: Int): (Long, Array[Long]) = {
        val vs = rs.filter(r => (r._1 % 2) == period).map(_._2)
        val dims = vs.head.length
        // half-away-from-zero, matching Spark/DuckDB round() (Scala
        // math.round is half-UP, which differs on negative .5 ties)
        def r(x: Double): Long =
          if (x >= 0) math.floor(x + 0.5).toLong
          else math.ceil(x - 0.5).toLong
        val sums = Array.tabulate(dims)(d => vs.map(v =>
          r(v(d).toDouble * 1e6)).sum)
        (vs.length.toLong, sums.map(_ / vs.length))
      }
      val (na, ma) = meanPpm(0); val (nb, mb) = meanPpm(1)
      val dot = ma.zip(mb).map { case (x, y) => x * y }.sum
      val na2 = ma.map(x => x * x).sum; val nb2 = mb.map(x => x * x).sum
      val cos = BigDecimal(dot / (math.sqrt(na2.toDouble) *
        math.sqrt(nb2.toDouble)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val l1 = ma.zip(mb).map { case (x, y) => math.abs(x - y) }.sum
      label -> ((na, nb, cos, l1))
    }
    val got = q("qa10_embedding_drift")
      .as[(String, Long, Long, Double, Long)].collect()
    assert(got.length == want.size)
    got.foreach { case (label, na, nb, cos, l1) =>
      assert(want(label) == ((na, nb, cos, l1)), label)
    }
    // the audit discriminates: no label's two periods coincide
    got.foreach { case (label, _, _, _, l1) =>
      assert(l1 > 0L, s"$label periods identical — fixture degenerate")
    }
    // a label present in only ONE period is the most drastic drift
    // (appeared/disappeared) — it must surface with n = 0 and null
    // metrics, not vanish through the period join
    val synth = Seq(
      (0L, Seq(1.0f, 2.0f), "both"), (1L, Seq(1.0f, 2.5f), "both"),
      (2L, Seq(3.0f, 4.0f), "only_a"))
      .toDF("vec_id", "embedding", "label")
    val sg = QualityQueries.embeddingDriftOf(synth).collect()
    assert(sg.map(_.getString(0)).toSeq == Seq("both", "only_a"))
    val onlyA = sg.find(_.getString(0) == "only_a").get
    assert(onlyA.getLong(1) == 1L && onlyA.getLong(2) == 0L)
    assert(onlyA.isNullAt(3) && onlyA.isNullAt(4))
    val both = sg.find(_.getString(0) == "both").get
    assert(!both.isNullAt(3) && !both.isNullAt(4))
  }

  test("qc08: token-budget mix equals the brute-force greedy prefix " +
    "fill per source") {
    import spark.implicits._
    val all = docs
    def ntok(t: String): Long =
      t.toLowerCase.split(" ", -1).count(_.nonEmpty).toLong
    // NOTE: token counts are case-insensitive-agnostic (whitespace
    // split only) — lowercase here is a no-op on counts
    val perDoc = all.map { case (id, t, src) => (id, src, ntok(t)) }
    val bySrc = perDoc.groupBy(_._2)
    val srcToks = bySrc.view.mapValues(_.map(_._3).sum).toMap
    val w = srcToks.view.mapValues(n =>
      math.floor(1e6 * math.sqrt(n.toDouble)).toLong).toMap
    val totalW = w.values.sum
    val budget = srcToks.values.sum / 10
    val quota = w.view.mapValues(wi =>
      math.floor(budget.toDouble * (wi.toDouble / totalW.toDouble)).toLong)
      .toMap
    val want = bySrc.toSeq.flatMap { case (src, rows) =>
      val ordered = rows.sortBy { case (id, _, _) => (md5hex(s"$id"), id) }
      val cums = ordered.scanLeft(0L)(_ + _._3).tail
      ordered.zip(cums).zipWithIndex.collect {
        case (((id, _, _), cum), i) if cum <= quota(src) =>
          (src, (i + 1).toLong) ->
            ((srcToks(src), quota(src), cum, id))
      }
    }.toMap
    val got = q("qc08_token_budget_mix")
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(got.length == want.size)
    got.foreach { case (src, st, qt, rnk, cum, id) =>
      assert(want((src, rnk)) == ((st, qt, cum, id)), s"($src, $rnk)")
    }
    // the fill is non-trivial on the fixture: every source takes a
    // strict subset (quota bites) and takes at least one doc
    val taken = got.groupBy(_._1).view.mapValues(_.length).toMap
    assert(taken.size == 20)
    bySrc.foreach { case (src, rows) =>
      assert(taken(src) >= 1 && taken(src) < rows.length, src)
    }
  }

  test("shingle-relation cache keys on source paths: two same-schema " +
    "parquet corpora in one session never share a cached relation") {
    import spark.implicits._
    // canonicalized plans normalize file paths AND column names away
    // ('Relation [none#0,none#1] parquet' for ANY two-column parquet),
    // so without the leaf-path key component corpus B would silently
    // read corpus A's persisted shingles — this pins the fix
    val base = java.nio.file.Files.createTempDirectory("shcache").toString
    val big = ("alpha beta gamma delta epsilon zeta eta theta " * 8).trim
    val excerpt = big.split(" ").take(24).mkString(" ")
    Seq((1L, big), (2L, excerpt))
      .toDF("doc_id", "text").write.parquet(s"$base/a")
    Seq((1L, "completely unrelated words one"),
      (2L, "another disjoint document two"))
      .toDF("doc_id", "text").write.parquet(s"$base/b")
    val a = spark.read.parquet(s"$base/a")
    val b = spark.read.parquet(s"$base/b")
    val pairsA = DedupQueries.containmentFrom(a).count()
    val pairsB = DedupQueries.containmentFrom(b).count()
    assert(pairsA == 1L, s"planted excerpt pair not found ($pairsA)")
    assert(pairsB == 0L,
      "corpus B reported corpus A's pairs — the shingle cache collided")
  }

  test("shingle cache: overwriting a parquet path and re-reading it " +
    "misses the cache instead of serving the stale relation") {
    import spark.implicits._
    // round-13 ADVICE: the key had no file-snapshot component, so a
    // path overwritten and re-read within one session silently served
    // the pre-overwrite persisted shingles. Spark writes carry unique
    // part-file names, so folding md5(inputFiles) into the key makes
    // the second read a miss — this pins that.
    val path = java.nio.file.Files
      .createTempDirectory("shcache_stale").toString + "/docs"
    val big = ("alpha beta gamma delta epsilon zeta eta theta " * 8).trim
    val excerpt = big.split(" ").take(24).mkString(" ")
    Seq((1L, big), (2L, excerpt))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(path)
    val before = DedupQueries.containmentFrom(
      spark.read.parquet(path)).count()
    assert(before == 1L, s"planted excerpt pair not found ($before)")
    // overwrite THE SAME PATH with a disjoint corpus, fresh read
    Seq((1L, "completely unrelated words one"),
      (2L, "another disjoint document two"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(path)
    val after = DedupQueries.containmentFrom(
      spark.read.parquet(path)).count()
    assert(after == 0L,
      "post-overwrite read served the stale pre-overwrite shingles")
  }

  test("shingle cache: an in-place overwrite that REUSES part-file " +
    "names (manual copy) still misses the cache via mtime/length") {
    import spark.implicits._
    // round-13 verdict residual: the snapshot key saw file NAMES only,
    // so a non-Spark writer reusing part names served stale shingles.
    // The key now folds each file's length+mtime from the relation's
    // FileIndex — this pins it.
    val base = java.nio.file.Files
      .createTempDirectory("shcache_inplace").toString
    val big = ("alpha beta gamma delta epsilon zeta eta theta " * 8).trim
    val excerpt = big.split(" ").take(24).mkString(" ")
    Seq((1L, big), (2L, excerpt)).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$base/docs")
    val before = DedupQueries.containmentFrom(
      spark.read.parquet(s"$base/docs")).count()
    assert(before == 1L, s"planted excerpt pair not found ($before)")
    // disjoint corpus written elsewhere, then copied OVER the original
    // part file — same file name, new bytes, new mtime
    Seq((1L, "completely unrelated words one"),
      (2L, "another disjoint document two")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$base/other")
    def partOf(dir: String) = new java.io.File(dir).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val target = partOf(s"$base/docs")
    java.nio.file.Files.copy(partOf(s"$base/other").toPath, target.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    // Hadoop LocalFileSystem keeps .crc sidecars — a faithful manual
    // overwrite must drop the stale one or reads fail on checksum
    new java.io.File(s"$base/docs", s".${target.getName}.crc").delete(): Unit
    // deterministic mtime bump (same-millisecond copies must not flake)
    assert(target.setLastModified(target.lastModified() + 60000))
    // out-of-band writes also go stale in Spark's OWN session
    // FileStatusCache (footer reads fail on the stale length) — the
    // standard refresh any external mutation requires; the shingle
    // cache must then miss on the refreshed mtime/length
    spark.catalog.refreshByPath(s"$base/docs")
    val after = DedupQueries.containmentFrom(
      spark.read.parquet(s"$base/docs")).count()
    assert(after == 0L,
      "same-name in-place overwrite served the stale shingle relation")
  }

  test("jaccardFrom, containmentDropped, qd11 and qd12 pin no " +
    "persistent RDD across calls") {
    // a fresh file-backed corpus, so no earlier call in this JVM can
    // have seen it: each call materializes what it reads several
    // times and keeps nothing in the block manager afterwards
    val dir = java.nio.file.Files.createTempDirectory("noleak").toString
    graft.Tables(spark, sf).documents
      .write.parquet(s"$dir/documents.parquet")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val docs = graft.Tables(spark, dir).documents.select("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    run(DedupQueries.jaccardFrom(docs))
    run(DedupQueries.containmentDropped(docs))
    run(graft.SparkEntry.queries("qd11_decontam")(spark, dir))
    run(graft.SparkEntry.queries("qd12_dup_spans")(spark, dir))
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"calls left ${leaked.size} persistent RDDs")
  }

  test("qd27: the bucket cap drops exactly the boilerplate bucket; " +
    "near-dups still pair through selective bands; generous cap is " +
    "a no-op") {
    import spark.implicits._
    // 60-doc boilerplate family (identical text → every band lands in
    // a 60-member bucket) + one genuine near-dup pair + bystanders
    val boiler = "terms of service apply to all users of this site " * 3
    val nd1 = "the quick brown fox jumps over the lazy dog again and again"
    val nd2 = "the quick brown fox jumps over the lazy dog again and later"
    val docs = ((0L until 60L).map(i => (i, boiler)) ++
      Seq((100L, nd1), (101L, nd2),
        (200L, "completely unrelated words about astronomy and tides")))
      .toDF("doc_id", "text")
    val sig = graft.functions.MinHash.signatures(docs, 8)
    val capped = DedupQueries.lshPairsCapped(sig, cap = 10)
      .as[(Long, Long)].collect().toSet
    // the quadratic family is gone; the near-dup pair survives via its
    // own (selective, 2-member) buckets
    assert(capped.contains((100L, 101L)), "near-dup pair lost")
    assert(!capped.exists { case (a, b) => a < 60 && b < 60 },
      "boilerplate-family pairs leaked past the cap")
    // a ceiling above every bucket reproduces the pure form exactly
    val pure = DedupQueries.lshPairsFrom(sig)
      .as[(Long, Long)].collect().toSet
    val generous = DedupQueries.lshPairsCapped(sig, cap = 1000)
      .as[(Long, Long)].collect().toSet
    assert(generous == pure)
    assert((pure -- capped).forall { case (a, b) => a < 60 && b < 60 },
      "cap dropped a pair outside the hot family")
  }

  test("qd31: the incremental band cap drops the boilerplate family " +
    "from candidates (counted in n_cands, not silently); the genuine " +
    "near-dup still matches; a generous cap reproduces qd15 exactly") {
    import spark.implicits._
    val boiler = "terms of service apply to all users of this site " * 3
    val nd1 = "the quick brown fox jumps over the lazy dog again and again"
    val nd2 = "the quick brown fox jumps over the lazy dog again and later"
    val docs = ((0L until 60L).map(i => (i, boiler)) ++
      Seq((100L, nd1), (101L, nd2),
        (200L, "completely unrelated words about astronomy and tides")))
      .toDF("doc_id", "text")
    val sig = graft.functions.MinHash.signatures(docs, 8)
    val isNew = $"doc_id" % 2 === 1
    val capped = DedupQueries
      .incrementalFrom(sig, isNew, bucketCap = Some(10))
      .as[(Long, Long, Int, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // 101 (new) still matches 100 (corpus) through the selective pair
    // bucket the cap leaves alone
    assert(capped(101L) == ((1L, 1, 100L)),
      s"near-dup lost under cap: ${capped(101L)}")
    // odd boilerplate docs see ZERO candidates — the family's bands
    // are all hot and drop whole, and n_cands says so
    (1L until 60L by 2).foreach { id =>
      assert(capped(id) == ((0L, 0, -1L)),
        s"boilerplate doc $id leaked candidates: ${capped(id)}")
    }
    // a ceiling above every bucket reproduces qd15 row-for-row
    val pure = DedupQueries.incrementalFrom(sig, isNew)
      .orderBy($"new_id").collect().toSeq
    val generous = DedupQueries
      .incrementalFrom(sig, isNew, bucketCap = Some(100000))
      .orderBy($"new_id").collect().toSeq
    assert(generous == pure)
  }

  test("qd32 law: capped split-hygiene keeps the doc counts identical " +
    "and every leak cell bounded by qd16's (cap can only remove " +
    "candidate pairs, never add or reroute them)") {
    import spark.implicits._
    val pure = q("qd16_split_hygiene")
      .as[(String, String, String, Long)].collect()
    val capped = q("qd32_split_hygiene_capped")
      .as[(String, String, String, Long)].collect()
    assert(pure.filter(_._1 == "docs").toSet ==
      capped.filter(_._1 == "docs").toSet)
    val pureLeak = pure.filter(_._1 == "leak")
      .map(r => (r._2, r._3) -> r._4).toMap
    val cappedLeak = capped.filter(_._1 == "leak")
      .map(r => (r._2, r._3) -> r._4).toMap
    assert((cappedLeak.keySet -- pureLeak.keySet).isEmpty,
      "cap introduced a leak cell qd16 does not have")
    cappedLeak.foreach { case (k, n) =>
      assert(n <= pureLeak(k), s"cell $k grew under the cap")
    }
  }

  test("qc08 law: two-phase prefix sum equals brute force on random " +
    "skewed corpora (one source holds ~90% of the docs)") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    (0 until 4).foreach { trial =>
      // heavy skew: source s0 gets the bulk, a few tiny tails — the
      // shape the hkey-nibble bucketing exists for
      val n = 120 + rnd.nextInt(80)
      val rows = (0L until n.toLong).map { id =>
        val src = if (rnd.nextInt(10) < 9) "s0" else s"s${1 + rnd.nextInt(3)}"
        val words = 1 + rnd.nextInt(40)
        (id, Seq.fill(words)(s"w${rnd.nextInt(50)}").mkString(" "), src)
      }
      val df = rows.toDF("doc_id", "text", "source")
      val div = 2 + rnd.nextInt(9)
      val perDoc = rows.map { case (id, t, src) =>
        (id, src, t.split(" ", -1).count(_.nonEmpty).toLong) }
      val bySrc = perDoc.groupBy(_._2)
      val srcToks = bySrc.view.mapValues(_.map(_._3).sum).toMap
      val w = srcToks.view.mapValues(m =>
        math.floor(1e6 * math.sqrt(m.toDouble)).toLong).toMap
      val totalW = w.values.sum
      val budget = srcToks.values.sum / div
      val quota = w.view.mapValues(wi =>
        math.floor(budget.toDouble * (wi.toDouble / totalW.toDouble))
          .toLong).toMap
      val want = bySrc.toSeq.flatMap { case (src, rs) =>
        val ordered = rs.sortBy { case (id, _, _) => (md5hex(s"$id"), id) }
        val cums = ordered.scanLeft(0L)(_ + _._3).tail
        ordered.zip(cums).zipWithIndex.collect {
          case (((id, _, _), cum), i) if cum <= quota(src) =>
            (src, (i + 1).toLong, id, cum)
        }
      }.toSet
      val got = CurationQueries.tokenBudgetFrom(df, div)
        .select("source", "rnk", "doc_id", "cum_tok")
        .as[(String, Long, Long, Long)].collect().toSet
      assert(got == want, s"trial $trial (n=$n div=$div)")
    }
  }

  test("qa09 law: six random sub-k corpora — every pair's estimator " +
    "equals exact set arithmetic") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 40).map(i => s"w$i")
    // per source, a random ~10-word doc: ≤ 9 distinct bigrams ≪ k=64
    val srcDocs = (0 until 6).map { s =>
      val words = Seq.fill(10)(vocab(rnd.nextInt(vocab.length)))
      (s.toLong, words.mkString(" "), s"rs$s")
    }
    def grams(t: String): Set[String] =
      t.split(" ").sliding(2).map(_.mkString(" ")).toSet
    val by = srcDocs.map { case (_, t, s) => s -> grams(t) }.toMap
    val got = QualityQueries.sourceOverlapOf(
      srcDocs.toDF("doc_id", "text", "source"))
      .as[(String, String, Long, Long, Long, Long)].collect()
    assert(got.length == 15)
    got.foreach { case (a, b, r, estU, estJ, estC) =>
      val inter = (by(a) & by(b)).size.toLong
      val union = (by(a) | by(b)).size.toLong
      assert(r == inter && estU == union &&
        estJ == 1000000L * inter / union &&
        estC == estJ * union / 1000000L, s"($a,$b)")
    }
  }

  test("qa09: sub-k sources degenerate to EXACT set arithmetic; the " +
    "fixture matrix covers every pair with sane bounds") {
    import spark.implicits._
    // three tiny sources: a ∩ b on "x y"-grams, c disjoint — every
    // source has far fewer than k=64 distinct bigrams, so the sketch
    // pool is exhaustive and r/est_union/est_common are exact
    val docs = Seq(
      (1L, "alpha beta gamma delta", "sa"),
      (2L, "alpha beta epsilon zeta", "sb"),
      (3L, "eta theta iota kappa", "sc"))
      .toDF("doc_id", "text", "source")
    def grams(t: String): Set[String] =
      t.toLowerCase.split(" ").sliding(2).map(_.mkString(" ")).toSet
    val by = Map("sa" -> grams("alpha beta gamma delta"),
      "sb" -> grams("alpha beta epsilon zeta"),
      "sc" -> grams("eta theta iota kappa"))
    val got = QualityQueries.sourceOverlapOf(docs)
      .as[(String, String, Long, Long, Long, Long)].collect()
    assert(got.map(t => (t._1, t._2)).toSeq ==
      Seq(("sa", "sb"), ("sa", "sc"), ("sb", "sc")))
    got.foreach { case (a, b, r, estU, estJ, estC) =>
      val inter = (by(a) & by(b)).size.toLong
      val union = (by(a) | by(b)).size.toLong
      assert(r == inter, s"($a,$b) r")
      assert(estU == union, s"($a,$b) union")
      assert(estJ == 1000000L * inter / union, s"($a,$b) jaccard")
      assert(estC == estJ * union / 1000000L, s"($a,$b) common")
    }
    // "alpha beta" is shared by sa/sb only
    assert(got.find(t => t._1 == "sa" && t._2 == "sb").get._3 == 1L)
    assert(got.find(t => t._1 == "sa" && t._2 == "sc").get._3 == 0L)
    // fixture-level: 20 sources → 190 pairs, estimates inside bounds
    val fx = q("qa09_source_overlap")
      .as[(String, String, Long, Long, Long, Long)].collect()
    assert(fx.length == 190)
    fx.foreach { case (a, b, r, estU, estJ, estC) =>
      assert(r >= 0 && r <= 64, s"($a,$b) r range")
      assert(estJ >= 0 && estJ <= 1000000L, s"($a,$b) jaccard range")
      assert(estC >= 0 && estC <= estU, s"($a,$b) common range")
    }
  }
}
