package graft.tokenize

import java.nio.charset.StandardCharsets.UTF_8

/** Pure-JVM SentencePiece runtime (F15 production path).
  *
  * The reference tokenizer is a LLaMA-2 SentencePiece model
  * (`tokenize/tokenizer.py:651-686`). No SentencePiece JVM binding is
  * resolvable in this build environment, so this implements the two
  * public, documented pieces needed to run a real `tokenizer.model`
  * behind the [[SubwordModel]] trait:
  *
  *  1. a minimal protobuf wire-format reader for the ModelProto subset
  *     the runtime needs — field 1 (`repeated SentencePiece`) with
  *     `piece`(1, string), `score`(2, float), `type`(3, enum) — per the
  *     public sentencepiece_model.proto schema. Unknown fields are
  *     skipped by wire type, so real model files parse.
  *  2. unigram-LM segmentation: whitespace is escaped to ▁ (U+2581,
  *     with the add-dummy-prefix convention), then Viterbi picks the
  *     piece sequence maximizing the summed piece scores, finding each
  *     position's piece edges by walking a char trie of the spellings
  *     (no substring, no map lookup per candidate); characters no
  *     piece covers fall back to their UTF-8 `<0xXX>` BYTE pieces
  *     (byte_fallback), or the UNKNOWN piece when the model has none.
  *
  * Scores and ids come from the model file, so ids/segmentations match
  * the reference runtime for unigram models; the greedy/word-hash test
  * doubles remain the default everywhere else.
  */
final class SentencePieceModel(
    val pieces: Vector[SentencePieceModel.Piece]) extends SubwordModel {

  import SentencePieceModel._

  // The derived tables are @transient: a model serialized into a task
  // ships only `pieces` and rebuilds them on first use.
  @transient private lazy val trie = new PieceTrie(pieces)
  private val unkId =
    pieces.indexWhere(_.pieceType == TypeUnknown) match {
      case -1 => 0
      case i => i
    }
  @transient private lazy val byteIds: Array[Int] = {
    val arr = Array.fill(256)(-1)
    pieces.zipWithIndex.foreach { case (p, i) =>
      if (p.pieceType == TypeByte) {
        // canonical byte piece spelling: <0xAB>
        val m = "^<0x([0-9A-Fa-f]{2})>$".r.findFirstMatchIn(p.piece)
        m.foreach(g => arr(Integer.parseInt(g.group(1), 16)) = i)
      }
    }
    arr
  }
  @transient lazy val hasByteFallback: Boolean = byteIds.forall(_ >= 0)
  /** id → byte value for canonical `<0xAB>` pieces; malformed TypeByte
    * spellings decode as a clear error, not a substring crash. */
  @transient private lazy val byteValueOf: Map[Int, Byte] =
    byteIds.zipWithIndex.collect {
      case (id, v) if id >= 0 => id -> v.toByte
    }.toMap

  /** escape to the sentencepiece surface form: ▁ for spaces, with a
    * leading dummy prefix. */
  private def escape(text: String): String =
    "▁" + text.replace(' ', '▁')

  def encode(text: String): IndexedSeq[Int] = {
    if (text.isEmpty) return IndexedSeq.empty
    val t = trie
    val bytes = byteIds
    val byteFallback = hasByteFallback
    val s = escape(text)
    val n = s.length
    // Viterbi over char positions: best score to reach i, with back ptr
    val best = new Array[Double](n + 1)
    java.util.Arrays.fill(best, Double.NegativeInfinity)
    val backPiece = new Array[Int](n + 1) // piece id of last edge
    val backFrom = new Array[Int](n + 1)
    best(0) = 0.0
    var i = 0
    while (i < n) {
      if (best(i) != Double.NegativeInfinity) {
        // piece edges, shortest first: walk the trie from position i
        // until the prefix leaves it
        var node = 0
        var j = i
        while (j < n && { node = t.child(node, s.charAt(j)); node > 0 }) {
          j += 1
          val id = t.pieceId(node)
          if (id >= 0) {
            val sc = best(i) + t.score(node)
            if (sc > best(j)) {
              best(j) = sc
              backPiece(j) = id
              backFrom(j) = i
            }
          }
        }
        // fallback edge over exactly one char (surrogate-pair aware)
        val clen = if (Character.isHighSurrogate(s.charAt(i)) &&
          i + 1 < n) 2 else 1
        val sc = best(i) + FallbackScore
        if (sc > best(i + clen)) {
          best(i + clen) = sc
          backPiece(i + clen) = FallbackEdge
          backFrom(i + clen) = i
        }
      }
      i += 1
    }
    // walk back to collect the path's edge ends, then emit forward: a
    // piece edge is its id, a fallback edge its UTF-8 byte pieces (at
    // most 4 per edge) or the UNK id
    val ends = new Array[Int](n)
    var k = 0
    var pos = n
    while (pos > 0) { ends(k) = pos; k += 1; pos = backFrom(pos) }
    val out = new Array[Int](4 * k)
    var m = 0
    var from = 0
    while (k > 0) {
      k -= 1
      val to = ends(k)
      if (backPiece(to) != FallbackEdge) { out(m) = backPiece(to); m += 1 }
      else if (byteFallback) m = utf8ByteIds(s, from, to, bytes, out, m)
      else { out(m) = unkId; m += 1 }
      from = to
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(
      java.util.Arrays.copyOf(out, m))
  }

  /** inverse of encode for round-trip checks: pieces joined, ▁ → space,
    * byte pieces reassembled, dummy prefix stripped. */
  def decode(ids: Seq[Int]): String = {
    val sb = new java.lang.StringBuilder
    val byteBuf = scala.collection.mutable.ArrayBuffer.empty[Byte]
    def flushBytes(): Unit = if (byteBuf.nonEmpty) {
      sb.append(new String(byteBuf.toArray, UTF_8))
      byteBuf.clear()
    }
    ids.foreach { id =>
      val p = pieces(id)
      if (p.pieceType == TypeByte)
        byteBuf += byteValueOf.getOrElse(id,
          throw new IllegalArgumentException(
            s"byte piece $id has non-canonical spelling '${p.piece}'"))
      else {
        flushBytes()
        if (p.pieceType == TypeNormal || p.pieceType == TypeUserDefined)
          sb.append(p.piece)
      }
    }
    flushBytes()
    sb.toString.replace('▁', ' ').stripPrefix(" ")
  }
}

object SentencePieceModel {

  // SentencePiece.Type enum values (sentencepiece_model.proto)
  val TypeNormal = 1
  val TypeUnknown = 2
  val TypeControl = 3
  val TypeUserDefined = 4
  val TypeUnused = 5
  val TypeByte = 6

  /** score charged per byte-fallback char — below any real piece score
    * so covered text always prefers pieces (sentencepiece uses the unk
    * penalty similarly). */
  val FallbackScore: Double = -1e3

  /** back-pointer marker of a fallback edge */
  private val FallbackEdge = -2

  /** Char trie of the piece spellings, its edges one open-addressing
    * table of (node, char) → child; node 0 is the root. `pieceId(node)`
    * is the id the spelling resolves to — the last piece spelled so, as
    * a spelling → id map keeps it — when that piece is a Normal or
    * UserDefined edge, else -1; `score(node)` is its score. */
  private final class PieceTrie(pieces: Vector[Piece]) {
    // nodes = root + distinct non-empty prefixes: over sorted spellings
    // each one adds what it does not share with its predecessor
    private val nodes = {
      var count = 1
      var prev = ""
      pieces.iterator.map(_.piece).toArray.distinct.sorted.foreach { p =>
        var l = 0
        while (l < p.length && l < prev.length &&
          p.charAt(l) == prev.charAt(l)) l += 1
        count += p.length - l
        prev = p
      }
      count
    }
    private val bits = 33 - Integer.numberOfLeadingZeros(nodes) // ≤ ½ full
    private val keys = Array.fill(1 << bits)(-1L)
    private val children = new Array[Int](1 << bits)
    val pieceId: Array[Int] = Array.fill(nodes)(-1)
    val score: Array[Float] = new Array[Float](nodes)

    private def slot(key: Long): Int = {
      var h = ((key * 0x9E3779B97F4A7C15L) >>> (64 - bits)).toInt
      while (keys(h) != key && keys(h) != -1L) h = (h + 1) & (keys.length - 1)
      h
    }

    /** the child of `node` along `c`, or -1 */
    def child(node: Int, c: Char): Int = {
      val h = slot((node.toLong << 16) | c)
      if (keys(h) == -1L) -1 else children(h)
    }

    locally {
      var next = 1
      pieces.iterator.zipWithIndex.foreach { case (p, id) =>
        var node = 0
        p.piece.foreach { c =>
          val key = (node.toLong << 16) | c
          val h = slot(key)
          if (keys(h) == -1L) { keys(h) = key; children(h) = next; next += 1 }
          node = children(h)
        }
        pieceId(node) =
          if (p.pieceType == TypeNormal || p.pieceType == TypeUserDefined) id
          else -1
        score(node) = p.score
      }
    }
  }

  /** Writes the byte-piece ids of `s.substring(from, to).getBytes(UTF_8)`
    * into `out` from `m`, without building either, and returns the new
    * end. As in `getBytes`, a lone surrogate encodes as '?'. */
  private def utf8ByteIds(s: String, from: Int, to: Int,
      byteIds: Array[Int], out: Array[Int], m0: Int): Int = {
    var m = m0
    var i = from
    while (i < to) {
      val c = s.charAt(i)
      val cp =
        if (Character.isHighSurrogate(c) && i + 1 < to &&
          Character.isLowSurrogate(s.charAt(i + 1))) {
          i += 1
          Character.toCodePoint(c, s.charAt(i))
        } else if (Character.isSurrogate(c)) '?'.toInt
        else c.toInt
      i += 1
      if (cp < 0x80) { out(m) = byteIds(cp); m += 1 }
      else {
        val len = if (cp < 0x800) 2 else if (cp < 0x10000) 3 else 4
        val lead = if (len == 2) 0xc0 else if (len == 3) 0xe0 else 0xf0
        out(m) = byteIds(lead | (cp >> (6 * (len - 1))))
        m += 1
        var k = len - 2
        while (k >= 0) {
          out(m) = byteIds(0x80 | ((cp >> (6 * k)) & 0x3f))
          m += 1
          k -= 1
        }
      }
    }
    m
  }

  final case class Piece(piece: String, score: Float, pieceType: Int)

  def fromFile(path: String): SentencePieceModel =
    parse(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))

  /** Inverse of [[parse]] — serialize pieces to the public ModelProto
    * wire format (field 1 = repeated SentencePiece{piece=1 string,
    * score=2 float, type=3 enum}). Lets fixtures and custom vocabs be
    * written as real `.model` files the reference runtime could load. */
  def serialize(pieces: Seq[Piece]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(pieces.length * 16)
    def varint(to: java.io.ByteArrayOutputStream, v0: Long): Unit = {
      var v = v0
      var cont = true
      while (cont) {
        val b = (v & 0x7f).toInt
        v >>>= 7
        if (v != 0) to.write(b | 0x80) else { to.write(b); cont = false }
      }
    }
    pieces.foreach { p =>
      val body = new java.io.ByteArrayOutputStream(p.piece.length + 12)
      val pb = p.piece.getBytes(UTF_8)
      body.write((1 << 3) | 2) // piece: field 1, length-delimited
      varint(body, pb.length.toLong)
      body.write(pb, 0, pb.length)
      body.write((2 << 3) | 5) // score: field 2, fixed32
      val bits = java.lang.Float.floatToIntBits(p.score)
      body.write(bits & 0xff); body.write((bits >> 8) & 0xff)
      body.write((bits >> 16) & 0xff); body.write((bits >> 24) & 0xff)
      body.write((3 << 3) | 0) // type: field 3, varint
      varint(body, p.pieceType.toLong)
      out.write((1 << 3) | 2) // ModelProto.pieces
      varint(out, body.size().toLong)
      body.writeTo(out)
    }
    out.toByteArray
  }

  /** Minimal protobuf reader for the ModelProto subset (field 1 =
    * repeated SentencePiece{piece=1, score=2, type=3}); every other
    * field is skipped by wire type. */
  def parse(bytes: Array[Byte]): SentencePieceModel = {
    var pos = 0
    def varint(): Long = {
      var shift = 0; var v = 0L; var b = 0
      do {
        b = bytes(pos) & 0xff; pos += 1
        v |= (b & 0x7fL) << shift; shift += 7
      } while ((b & 0x80) != 0)
      v
    }
    def skip(wire: Int): Unit = wire match {
      case 0 => varint(): Unit
      case 1 => pos += 8
      case 2 => pos += varint().toInt
      case 5 => pos += 4
      case other =>
        throw new IllegalArgumentException(s"wire type $other")
    }
    def parsePiece(end: Int): Piece = {
      var piece = ""; var score = 0f; var tpe = TypeNormal
      while (pos < end) {
        val key = varint().toInt
        (key >> 3, key & 7) match {
          case (1, 2) =>
            val len = varint().toInt
            piece = new String(bytes, pos, len, UTF_8); pos += len
          case (2, 5) =>
            score = java.lang.Float.intBitsToFloat(
              (bytes(pos) & 0xff) | ((bytes(pos + 1) & 0xff) << 8) |
                ((bytes(pos + 2) & 0xff) << 16) |
                ((bytes(pos + 3) & 0xff) << 24))
            pos += 4
          case (3, 0) => tpe = varint().toInt
          case (_, w) => skip(w)
        }
      }
      Piece(piece, score, tpe)
    }
    val pieces = Vector.newBuilder[Piece]
    while (pos < bytes.length) {
      val key = varint().toInt
      (key >> 3, key & 7) match {
        case (1, 2) =>
          val len = varint().toInt
          pieces += parsePiece(pos + len)
        case (_, w) => skip(w)
      }
    }
    new SentencePieceModel(pieces.result())
  }
}
