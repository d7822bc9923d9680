package graft.tokenize

import org.scalatest.funsuite.AnyFunSuite

/** Laws on a realistic-scale (8192-piece) SentencePiece model built by
  * [[SpVocabGen]] and round-tripped through the real ModelProto wire
  * format — evidence the JVM Viterbi runtime holds up beyond the
  * committed tiny.model (F15; reference runs a 32k Llama-2 vocab,
  * `tokenize/tokenizer.py:651-686`). Also measures tokens/sec — the
  * number recorded in SCALE.md. */
class SpBigModelSpec extends AnyFunSuite {

  private lazy val model: SentencePieceModel = SentencePieceModel.parse(
    SentencePieceModel.serialize(SpVocabGen.pieces(8192)))

  test("ModelProto wire round-trip is identity at 8k vocab") {
    assert(model.pieces.length == 8192)
    assert(model.pieces == SpVocabGen.pieces(8192))
    assert(model.hasByteFallback)
  }

  test("decode∘encode is identity on in-vocab and OOV text") {
    val texts = (0 until 50).map(i => SpVocabGen.sentence(i)) ++ Seq(
      "mixed Q9 zz!", "ünïcödé ▒ text", "a", "", "  double  spaces ")
    texts.foreach { t =>
      assert(model.decode(model.encode(t)) == t, s"text '$t'")
    }
  }

  test("Viterbi path score ≥ greedy longest-match on every sample") {
    import SentencePieceModel._
    val idOf = model.pieces.zipWithIndex.collect {
      case (p, i) if p.pieceType == TypeNormal => p.piece -> i
    }.toMap
    val maxLen = idOf.keys.map(_.length).max
    def pathScore(ids: Seq[Int]): Double = ids.map { id =>
      val p = model.pieces(id)
      if (p.pieceType == TypeByte) FallbackScore else p.score.toDouble
    }.sum
    def greedy(text: String): Double = {
      val s = "▁" + text.replace(' ', '▁')
      var i = 0
      var score = 0.0
      while (i < s.length) {
        val lim = math.min(maxLen, s.length - i)
        val hit = (lim to 1 by -1).iterator
          .map(len => s.substring(i, i + len))
          .find(idOf.contains)
        hit match {
          case Some(piece) =>
            score += model.pieces(idOf(piece)).score; i += piece.length
          case None => score += FallbackScore; i += 1
        }
      }
      score
    }
    (0 until 100).foreach { i =>
      val t = SpVocabGen.sentence(i, words = 8)
      val v = pathScore(model.encode(t))
      val g = greedy(t)
      assert(v >= g - 1e-9, s"sentence $i: viterbi $v < greedy $g")
    }
  }

  /** Median whole-corpus pass rate of `m`, in tokens/sec, over passes
    * repeated for a fixed wall-clock budget after a warm-up of half that
    * budget; returns (tokens per pass, median rate, passes timed). One
    * pass is a few hundredths of a second, too short to time alone. */
  private def medianRate(m: SentencePieceModel, corpus: Seq[String],
      budgetNs: Long = 1000000000L): (Long, Double, Int) = {
    def pass(): (Long, Long) = {
      val t0 = System.nanoTime()
      var tokens = 0L
      corpus.foreach(t => tokens += m.encode(t).length)
      (tokens, System.nanoTime() - t0)
    }
    val warm = System.nanoTime() + budgetNs / 2
    while (System.nanoTime() < warm) pass(): Unit
    val rates = scala.collection.mutable.ArrayBuffer.empty[Double]
    var tokens = 0L
    val end = System.nanoTime() + budgetNs
    while (rates.isEmpty || System.nanoTime() < end) {
      val (n, ns) = pass()
      tokens = n
      rates += n / (ns / 1e9)
    }
    (tokens, rates.sorted.apply(rates.length / 2), rates.length)
  }

  test("throughput: tokenizes a corpus at reportable tokens/sec") {
    val corpus = (0 until 2000).map(i => SpVocabGen.sentence(i, words = 12))
    val (tokens, tps, passes) = medianRate(model, corpus)
    info(f"8k-vocab unigram Viterbi: $tokens tokens/pass, median of " +
      f"$passes passes = $tps%.0f tok/s/core")
    assert(tps > 10000, f"unexpectedly slow: $tps%.0f tok/s")

    // Llama-2 vocab scale (32k pieces): same corpus, same laws
    val big = SentencePieceModel.parse(
      SentencePieceModel.serialize(SpVocabGen.pieces(32000)))
    assert(big.pieces.length == 32000)
    val (tokens32, tps32, passes32) = medianRate(big, corpus)
    info(f"32k-vocab unigram Viterbi: $tokens32 tokens/pass, median of " +
      f"$passes32 passes = $tps32%.0f tok/s/core")
    assert(corpus.take(50).forall(t => big.decode(big.encode(t)) == t))
  }
}
