package graft.functions

import graft.SparkSpec

class ConnectedComponentsSpec extends SparkSpec {

  test("min-label propagation: chains, separate components, isolates") {
    import spark.implicits._
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("a_id", "b_id")
    val verts = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("id")
    val got = ConnectedComponents.run(edges, verts)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("long chain converges (diameter > 1 round)") {
    import spark.implicits._
    val n = 30
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong))
      .toDF("a_id", "b_id")
    val verts = (1 to n).map(_.toLong).toDF("id")
    val got = ConnectedComponents.run(edges, verts).collect()
    assert(got.forall(_.getLong(1) == 1L))
  }

  test("non-numeric (string) ids propagate correctly, no silent converge") {
    import spark.implicits._
    // chain d-c-b-a needs >1 round; a long-cast convergence check would
    // null out and stop after round 1 with wrong labels
    val edges = Seq(("d", "c"), ("c", "b"), ("b", "a"), ("x", "y"))
      .toDF("a_id", "b_id")
    val verts = Seq("a", "b", "c", "d", "x", "y", "z").toDF("id")
    val got = ConnectedComponents.run(edges, verts)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a",
      "x" -> "x", "y" -> "x", "z" -> "z"))
  }

  test("unconverged at maxIters throws instead of returning bad labels") {
    import spark.implicits._
    val n = 12 // diameter ~11 > 3 rounds, and 3 leaves no star budget
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong))
      .toDF("a_id", "b_id")
    val verts = (1 to n).map(_.toLong).toDF("id")
    assertThrows[IllegalStateException](
      ConnectedComponents.run(edges, verts, maxIters = 3))
  }

  test("dense cluster converges in the propagation phase (no fallback)") {
    import spark.implicits._
    // star-shaped near-dup cluster: diameter 2, the common dedup shape
    val edges = (2 to 9).map(i => (1L, i.toLong)).toDF("a_id", "b_id")
    val verts = (1 to 9).map(_.toLong).toDF("id")
    val (got, stats) = ConnectedComponents.runWithStats(edges, verts)
    assert(got.collect().forall(_.getLong(1) == 1L))
    assert(!stats.usedStarFallback && stats.starRounds == 0)
    assert(stats.propagationRounds <= ConnectedComponents.StarFallbackAfter)
  }

  test("adversarial 10k-chain (diameter >> 50) converges via star " +
      "fallback in O(log n) rounds") {
    import spark.implicits._
    // doc k shares a span with doc k+1 — the scraped-corpus dup chain.
    // Min-label propagation needs 9,999 rounds (>> the old maxIters=50
    // abort); large-star/small-star must finish well inside the budget.
    val n = 10000
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong))
      .toDF("a_id", "b_id")
    val verts = (1 to n).map(_.toLong).toDF("id")
    val (got, stats) = ConnectedComponents.runWithStats(edges, verts)
    val labels = got.collect()
    assert(labels.length == n)
    assert(labels.forall(_.getLong(1) == 1L))
    assert(stats.usedStarFallback)
    assert(stats.propagationRounds == ConnectedComponents.StarFallbackAfter)
    // O(log n): a 10^4-diameter chain must close in ~2·log2(n) star
    // alternations, nowhere near the 44-round budget
    assert(stats.starRounds <= 30,
      s"star phase took ${stats.starRounds} rounds")
  }

  test("string-id chain through the star fallback (lexicographic min)") {
    import spark.implicits._
    // 26 single letters chained z-y-...-a: diameter 25 > fallback bound
    val ids = ('a' to 'z').map(_.toString)
    val edges = ids.sliding(2).map(p => (p(1), p(0))).toSeq
      .toDF("a_id", "b_id")
    val verts = (ids :+ "zz").toDF("id")
    val (got, stats) = ConnectedComponents.runWithStats(edges, verts)
    val m = got.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(ids.forall(m(_) == "a") && m("zz") == "zz")
    assert(stats.usedStarFallback)
  }

  test("star-phase law: on random graphs the forced star path labels " +
      "exactly as min-label propagation") {
    import spark.implicits._
    // propagationBudget = 0 forces large-star/small-star from round
    // one; the default run on these small random graphs converges in
    // the propagation phase — the two algorithms must agree label for
    // label (same component, same min id), whatever the topology:
    // cliques, chains, forests, isolated vertices
    for (seed <- Seq(1, 7, 13, 29, 42)) {
      val rnd = new scala.util.Random(seed)
      val n = 20 + rnd.nextInt(15)
      val edges = Seq.fill(25 + rnd.nextInt(20))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
        .toDF("a_id", "b_id")
      val verts = (0 until n).map(_.toLong).toDF("id")
      // ground truth: PURE min-label (budget >> any diameter here);
      // candidate: pure star
      val (viaProp, s1) = ConnectedComponents.runWithStats(
        edges, verts, maxIters = 100, propagationBudget = 100)
      val (viaStar, s2) = ConnectedComponents.runWithStats(
        edges, verts, propagationBudget = 0)
      assert(!s1.usedStarFallback && s2.usedStarFallback,
        s"seed $seed: phases $s1 / $s2")
      val a = viaProp.collect().map(r => r.getLong(0) -> r.getLong(1))
        .toMap
      val b = viaStar.collect().map(r => r.getLong(0) -> r.getLong(1))
        .toMap
      assert(a == b, s"seed $seed: star and propagation labels differ")
    }
  }

  /** Runs `body` with the shared session's checkpoint dir set to
    * `dir`, then restores the previous one for later suites. */
  private def withCheckpointDir[T](dir: Option[String])(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getCheckpointDir
    sc.setCheckpointDir(dir.orNull)
    try body finally sc.setCheckpointDir(prev.orNull)
  }

  test("reliable checkpoint path (checkpoint dir set) gives same answer") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cc_ckpt").toString
    withCheckpointDir(Some(dir)) {
      val edges = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
      val verts = Seq(1L, 2L, 3L, 10L, 11L).toDF("id")
      val got = ConnectedComponents.run(edges, verts)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L,
        11L -> 10L))
    }
    assert(spark.sparkContext.getCheckpointDir.isDefined)
  }

  test("no checkpoint dir: run refuses, naming spark.checkpoint.dir") {
    import spark.implicits._
    val edges = Seq((2L, 1L)).toDF("a_id", "b_id")
    val verts = Seq(1L, 2L).toDF("id")
    val e = withCheckpointDir(None) {
      intercept[IllegalArgumentException](
        ConnectedComponents.run(edges, verts))
    }
    assert(e.getMessage.contains("spark.checkpoint.dir"), e.getMessage)
    assert(spark.sparkContext.getCheckpointDir.isDefined)
  }
}
