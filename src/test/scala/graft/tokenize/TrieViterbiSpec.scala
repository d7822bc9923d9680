package graft.tokenize

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import SentencePieceModel._

/** The trie Viterbi in [[SentencePieceModel.encode]] against the
  * substring + spelling-map Viterbi it replaced, kept here only as the
  * reference: every segmentation must be identical, over the committed
  * tiny.model, realistic 8k/32k vocabs, surrogates, duplicate spellings
  * and non-edge piece types. Also pins that only `pieces` ships when a
  * model is serialized into a task. */
class TrieViterbiSpec extends AnyFunSuite {

  /** the pre-trie encode: every (position, length ≤ maxPieceLen)
    * substring looked up in a spelling → id map (last id wins). */
  private def referenceEncode(pieces: Vector[Piece])(text: String):
      IndexedSeq[Int] = {
    val idOf = pieces.zipWithIndex.map { case (p, i) => p.piece -> i }.toMap
    val maxPieceLen =
      if (pieces.isEmpty) 0 else pieces.iterator.map(_.piece.length).max
    val unkId = pieces.indexWhere(_.pieceType == TypeUnknown) match {
      case -1 => 0
      case i => i
    }
    val byteIds = Array.fill(256)(-1)
    pieces.zipWithIndex.foreach { case (p, i) =>
      if (p.pieceType == TypeByte)
        "^<0x([0-9A-Fa-f]{2})>$".r.findFirstMatchIn(p.piece)
          .foreach(g => byteIds(Integer.parseInt(g.group(1), 16)) = i)
    }
    def fallbackIds(c: String): Seq[Int] =
      if (byteIds.forall(_ >= 0)) c.getBytes(UTF_8).toSeq.map(b => byteIds(b & 0xff))
      else Seq(unkId)
    if (text.isEmpty) return IndexedSeq.empty
    val s = "▁" + text.replace(' ', '▁')
    val n = s.length
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val backPiece = Array.fill(n + 1)(-1)
    val backFrom = Array.fill(n + 1)(-1)
    best(0) = 0.0
    var i = 0
    while (i < n) {
      if (best(i) != Double.NegativeInfinity) {
        var len = 1
        val lim = math.min(maxPieceLen, n - i)
        while (len <= lim) {
          idOf.get(s.substring(i, i + len)) match {
            case Some(id) if pieces(id).pieceType == TypeNormal ||
                pieces(id).pieceType == TypeUserDefined =>
              val sc = best(i) + pieces(id).score
              if (sc > best(i + len)) {
                best(i + len) = sc
                backPiece(i + len) = id
                backFrom(i + len) = i
              }
            case _ => ()
          }
          len += 1
        }
        val clen = if (Character.isHighSurrogate(s.charAt(i)) &&
          i + 1 < n) 2 else 1
        val sc = best(i) + FallbackScore
        if (sc > best(i + clen)) {
          best(i + clen) = sc
          backPiece(i + clen) = -2
          backFrom(i + clen) = i
        }
      }
      i += 1
    }
    val rev = scala.collection.mutable.ArrayBuffer.empty[Seq[Int]]
    var pos = n
    while (pos > 0) {
      val from = backFrom(pos)
      if (backPiece(pos) == -2) rev += fallbackIds(s.substring(from, pos))
      else rev += Seq(backPiece(pos))
      pos = from
    }
    rev.reverseIterator.flatten.toIndexedSeq
  }

  private lazy val tiny: SentencePieceModel = {
    val in = getClass.getResourceAsStream("/tiny.model")
    assert(in != null, "tiny.model fixture missing")
    SentencePieceModel.parse(in.readAllBytes())
  }
  private lazy val vocab8k = SpVocabGen.model(8192)
  private lazy val vocab32k = SpVocabGen.model(32000)

  private val specials =
    Seq("😀", "𐀀", "\ud800", "\udc00", "\ud83d", "\ude00", "é", "中",
      "\u0000", "\u007f", "▁", "  ", "<0x41>", "<s>", "Q")

  /** seeded strings mixing the model's own spellings (so pieces match)
    * with surrogates — paired, lone and reversed — and stray chars. */
  private def randomTexts(m: SentencePieceModel, seed: Int, count: Int):
      Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val spellings = m.pieces.map(_.piece.replace('▁', ' '))
    Seq.fill(count) {
      Seq.fill(1 + rnd.nextInt(12)) {
        rnd.nextInt(4) match {
          case 0 => specials(rnd.nextInt(specials.length))
          case 1 => rnd.nextPrintableChar().toString
          case _ => spellings(rnd.nextInt(spellings.length))
        }
      }.mkString(if (rnd.nextBoolean()) " " else "")
    }
  }

  private def assertSameAsReference(m: SentencePieceModel,
      texts: Seq[String]): Unit = {
    val ref = referenceEncode(m.pieces) _
    texts.foreach { t =>
      assert(m.encode(t) == ref(t), s"text '${t.map(_.toInt.toHexString)}'")
    }
  }

  test("identical segmentation on seeded random text over tiny, 8k and 32k models") {
    assertSameAsReference(tiny, randomTexts(tiny, 1, 400))
    assertSameAsReference(vocab8k, randomTexts(vocab8k, 2, 300))
    assertSameAsReference(vocab32k, randomTexts(vocab32k, 3, 300))
    assertSameAsReference(vocab8k,
      (0 until 200).map(i => SpVocabGen.sentence(i)))
  }

  test("surrogates, empty text and words longer than any piece") {
    val long = SpVocabGen.sentence(5, words = 1).replace(" ", "") * 40
    val texts = Seq("", " ", "😀", "\ud800", "\udc00", "\ud800\ud800",
      "\ud800x", "x\ud800", "\udc00\ud800", "a😀b 𐀀 \ud83d", long,
      "the" * 50, "q" * 300, s"$long $long")
    Seq(tiny, vocab8k, vocab32k).foreach { m =>
      assertSameAsReference(m, texts)
      assert(m.encode("").isEmpty)
    }
  }

  /** byte pieces for all 256 values, so fallback is bytewise */
  private val bytePieces =
    (0 until 256).map(b => Piece(f"<0x$b%02X>", 0f, TypeByte)).toVector

  test("duplicate spellings of conflicting types: the last one wins") {
    val pieces = Vector(Piece("<unk>", 0f, TypeUnknown)) ++ bytePieces ++
      Vector(
        Piece("ab", -1f, TypeNormal), // 257: shadowed by 258
        Piece("ab", -1f, TypeControl), // 258: last "ab" — not an edge
        Piece("cd", -1f, TypeUnused), // 259: shadowed by 260
        Piece("cd", -2f, TypeNormal), // 260: last "cd" — an edge
        Piece("ef", -9f, TypeNormal), // 261: shadowed by 262
        Piece("ef", -0.5f, TypeUserDefined), // 262: last "ef", its score
        Piece("▁", -0.1f, TypeNormal)) // 263
    val m = new SentencePieceModel(pieces)
    val ids = m.encode("ab cd ef")
    assert(!ids.contains(257) && !ids.contains(258))
    assert(ids.contains(260) && !ids.contains(259))
    assert(ids.contains(262) && !ids.contains(261))
    assert(m.decode(ids) == "ab cd ef")
    assertSameAsReference(m, Seq("ab cd ef", "abab", "cdcd", "efef",
      "abcdef", "a b", "") ++ randomTexts(m, 4, 200))
  }

  test("exact score ties keep the first edge relaxed, as before") {
    // every spelling over {a, b} up to length 3, scored -length: every
    // segmentation of a word ties, so only the strict `>` and the
    // shortest-first edge order decide the path
    val spellings = for {
      len <- 1 to 3
      w <- Iterator.iterate(Seq(""))(ws => ws.flatMap(p => Seq(p + "a", p + "b")))
        .drop(len).next()
    } yield w
    val pieces = Vector(Piece("<unk>", 0f, TypeUnknown)) ++ bytePieces ++
      Vector(Piece("▁", -1f, TypeNormal)) ++
      spellings.map(w => Piece(w, -w.length.toFloat, TypeNormal)) ++
      Vector(Piece("c", FallbackScore.toFloat, TypeNormal)) // ties a fallback
    val m = new SentencePieceModel(pieces)
    assert(m.encode("ab").map(m.pieces(_).piece) == Vector("▁", "ab"))
    assert(m.encode("c").map(m.pieces(_).piece) == Vector("▁", "c"))
    val rnd = new scala.util.Random(8)
    assertSameAsReference(m, Seq.fill(300) {
      Seq.fill(1 + rnd.nextInt(10))("abc" (rnd.nextInt(3))).mkString
        .patch(rnd.nextInt(3), " ", 0)
    })
  }

  test("Control, Unused and Byte pieces never become edges") {
    val pieces = Vector(
      Piece("<unk>", 0f, TypeUnknown),
      Piece("<s>", 5f, TypeControl),
      Piece("</s>", 5f, TypeControl),
      Piece("xy", 5f, TypeUnused)) ++ bytePieces ++
      Vector(Piece("▁", -1f, TypeNormal), Piece("x", -1f, TypeNormal))
    val m = new SentencePieceModel(pieces)
    val nonEdges = Set(1, 2, 3)
    val byteA = 4 + 0x41
    Seq("<s>", "</s>", "xy", "<0x41>", "<s>xy</s>", "B", "xyxy")
      .foreach { t =>
        val ids = m.encode(t)
        assert(ids.forall(id => !nonEdges.contains(id)), s"text '$t'")
        // the literal spelling "<0x41>" falls back char by char; only a
        // real 'A' may emit the 0x41 byte piece
        assert(!ids.contains(byteA), s"text '$t'")
        assert(m.decode(ids) == t)
      }
    assertSameAsReference(m, randomTexts(m, 5, 200))
    // without byte pieces, fallback is one UNK per char (pair-aware)
    val noBytes = new SentencePieceModel(pieces.filter(_.pieceType != TypeByte))
    assert(!noBytes.hasByteFallback)
    assert(noBytes.encode("Z😀") == Vector(4, 0, 0)) // ▁, then UNK per char
    assertSameAsReference(noBytes, randomTexts(noBytes, 7, 100))
  }

  test("only pieces ship when a model is serialized; the copy encodes identically") {
    def javaBytes(o: AnyRef): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val oos = new ObjectOutputStream(bos)
      oos.writeObject(o)
      oos.close()
      bos.toByteArray
    }
    val m = vocab32k
    val texts = randomTexts(m, 6, 200)
    // build every derived table before serializing: trie and byte ids
    // by encode, the byte-value map by decode
    val encoded = texts.map(m.encode)
    encoded.foreach(m.decode)
    val modelBytes = javaBytes(m)
    val piecesBytes = javaBytes(m.pieces)
    assert(modelBytes.length <= 1.2 * piecesBytes.length,
      s"model ${modelBytes.length} B vs pieces ${piecesBytes.length} B")
    val copy = new ObjectInputStream(new ByteArrayInputStream(modelBytes))
      .readObject().asInstanceOf[SentencePieceModel]
    assert(texts.map(copy.encode) == encoded)
    assert(copy.hasByteFallback)
  }
}
