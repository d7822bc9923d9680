package graft.tokenize

/** Greedy longest-match subword model over a fixed vocabulary — the
  * deterministic stand-in for a SentencePiece unigram model: each
  * whitespace word is segmented by repeatedly taking the longest vocab
  * piece that prefixes the remainder, with a per-character byte-fallback
  * (ids 4..259) for uncovered text, like SentencePiece's byte_fallback.
  * Production swaps in a JVM SentencePiece binding behind the same
  * trait; every algorithm downstream (special-token scan, conversation
  * framing, 8k packing, check invariants) is agnostic to the choice. */
final class GreedySubwordModel(vocab: Seq[String]) extends SubwordModel {
  require(vocab.nonEmpty)
  private val byLen = vocab.distinct.sortBy(-_.length)
  private val ids: Map[String, Int] =
    byLen.zipWithIndex.map { case (p, i) => p -> (300 + i) }.toMap

  def encode(text: String): IndexedSeq[Int] = {
    val out = IndexedSeq.newBuilder[Int]
    text.split("\\s+").filter(_.nonEmpty).foreach { word =>
      var rest = word
      while (rest.nonEmpty) {
        byLen.find(rest.startsWith) match {
          case Some(piece) =>
            out += ids(piece)
            rest = rest.substring(piece.length)
          case None =>
            out += 4 + (rest.charAt(0) & 0xff) // byte fallback
            rest = rest.substring(1)
        }
      }
    }
    out.result()
  }
}
