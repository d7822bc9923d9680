package graft.tokenize

import graft.pack.Conversations
import graft.pack.Conversations.Turn

/** Tokenizer seam (F15/F16). The reference binds a multimodal LLaMA-2
  * SentencePiece model (`tokenize/tokenizer.py:651-686`); its
  * *algorithmic* content — the greedy special-token interleave scan and
  * the conversation framing — is engine logic and lives here, while the
  * subword model itself is pluggable (JVM SentencePiece in production, a
  * deterministic word-hash model in tests — `SURVEY.md` §7.4.6).
  */
trait SubwordModel extends Serializable {
  /** encode plain text (no special tokens) to ids. */
  def encode(text: String): IndexedSeq[Int]
}

/** Deterministic test-double subword model: whitespace words hashed into
  * [100, 31900). Stable across JVMs (uses our own FNV hash, not
  * String.hashCode which is stable anyway but explicit is better). */
final class WordHashModel extends SubwordModel {
  private def fnv(s: String): Int = {
    var h = 0x811c9dc5
    var i = 0
    while (i < s.length) { h = (h ^ s.charAt(i)) * 0x01000193; i += 1 }
    h
  }
  def encode(text: String): IndexedSeq[Int] =
    text.split("\\s+").filter(_.nonEmpty).toIndexedSeq
      .map(w => 100 + math.floorMod(fnv(w), 31800))
}

/** Growable primitive int buffer: the id and mask scratch of the
  * tokenize path, appended in place with no boxing. */
final class IntBuffer(initialCapacity: Int = 1024) {
  private var arr = new Array[Int](initialCapacity)
  private var n = 0

  def length: Int = n
  def clear(): Unit = n = 0

  private def reserve(extra: Int): Unit =
    if (n + extra > arr.length)
      arr = java.util.Arrays.copyOf(arr, math.max(2 * arr.length, n + extra))

  def +=(v: Int): Unit = { reserve(1); arr(n) = v; n += 1 }

  /** an `ArraySeq.ofInt` (what [[SentencePieceModel.encode]] returns)
    * copies with one `System.arraycopy`. */
  def ++=(xs: IndexedSeq[Int]): Unit = {
    reserve(xs.length)
    xs.copyToArray(arr, n)
    n += xs.length
  }

  /** append `count` copies of `v`. */
  def fill(count: Int, v: Int): Unit = {
    reserve(count)
    java.util.Arrays.fill(arr, n, n + count, v)
    n += count
  }

  def toArray: Array[Int] = java.util.Arrays.copyOf(arr, n)
}

/** Special-token-aware tokenizer: scans for the earliest special token,
  * encodes the plain segments with the subword model, and emits the
  * special token's fixed id — the reference's `tokenize` loop
  * (`tokenize/tokenizer.py:651-686`). */
final class SpecialTokenTokenizer(
    model: SubwordModel,
    val specialTokens: Map[String, Int]) extends Serializable {

  private val tokens = specialTokens.keys.toArray
  private val tokenIds = tokens.map(specialTokens)

  /** Append the ids of `text` to `out` in one left-to-right scan: each
    * special token's next occurrence is tracked monotonically (indexOf
    * resumes from the cursor), so a sentinel-dense prompt costs
    * O(tokens · |text|) total instead of the naive
    * rescan-the-tail-per-emission quadratic. The earliest occurrence
    * wins; on a tie the longest token wins. */
  def tokenizeInto(text: String, out: IntBuffer): Unit = {
    val nextPos = new Array[Int](tokens.length)
    var i = 0
    while (i < tokens.length) { nextPos(i) = text.indexOf(tokens(i)); i += 1 }
    var cur = 0
    while (cur < text.length) {
      var best = -1
      var bestPos = -1
      i = 0
      while (i < tokens.length) {
        var p = nextPos(i)
        if (p >= 0 && p < cur) {
          p = text.indexOf(tokens(i), cur)
          nextPos(i) = p
        }
        if (p >= 0 && (best < 0 || p < bestPos ||
            (p == bestPos && tokens(i).length > tokens(best).length))) {
          best = i
          bestPos = p
        }
        i += 1
      }
      if (best < 0) {
        out ++= model.encode(text.substring(cur))
        cur = text.length
      } else {
        if (bestPos > cur) out ++= model.encode(text.substring(cur, bestPos))
        out += tokenIds(best)
        cur = bestPos + tokens(best).length
      }
    }
  }
}

object Tokenizers {
  /** Multimodal special-token vocabulary with the ids the check stage
    * asserts on (`index/check_pair.py:37-40`). */
  val MultimodalSpecials: Map[String, Int] = Map(
    Conversations.ImPatchToken -> 32000,
    Conversations.ImStartToken -> 32001,
    Conversations.ImEndToken -> 32002,
    Conversations.EosToken -> 2,
    Conversations.BosToken -> 1)

  def testTokenizer(): SpecialTokenTokenizer =
    new SpecialTokenTokenizer(new WordHashModel, MultimodalSpecials)

  /** F16 `tokenize_conversation` (`tokenize/main.py:132-147`): BOS id
    * [1] + per-turn ids (gpt turns get EOS appended pre-tokenize);
    * loss_mask 0 for human/BOS, 1 for gpt; text joined with '\n'. The
    * ids and mask are built in `ids`/`mask` (cleared first; a caller
    * tokenizing many conversations passes the same two) and returned
    * as exact-size copies. */
  def tokenizeConversation(
      conversation: Seq[Turn],
      tokenizer: SpecialTokenTokenizer,
      ids: IntBuffer = new IntBuffer,
      mask: IntBuffer = new IntBuffer): (Array[Int], Array[Int], String) = {
    ids.clear()
    mask.clear()
    val text = new StringBuilder(Conversations.BosToken)
    ids += 1
    mask += 0
    conversation.zipWithIndex.foreach { case (turn, idx) =>
      val tmp = turn.value +
        (if (turn.from == "gpt") Conversations.EosToken else "")
      val before = ids.length
      tokenizer.tokenizeInto(tmp, ids)
      mask.fill(ids.length - before, if (turn.from == "human") 0 else 1)
      if (idx > 0) text.append('\n')
      text.append(tmp)
    }
    (ids.toArray, mask.toArray, text.toString)
  }
}
