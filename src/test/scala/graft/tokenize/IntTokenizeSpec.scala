package graft.tokenize

import scala.util.Random

import graft.pack.Conversations
import graft.pack.Conversations.Turn
import graft.tokenize.TokenizeStage.TokDoc
import org.scalatest.funsuite.AnyFunSuite

/** The primitive-int tokenize path ([[SpecialTokenTokenizer.tokenizeInto]],
  * [[Tokenizers.tokenizeConversation]], [[TokenizeStage.merge]])
  * against the `Vector`-based spelling it replaced, kept here only as
  * the oracle: ids, mask, text and merged bins must be equal through
  * the SentencePiece model (`tiny.model`) and the word-hash model, on
  * seeded random conversations and hostile layouts (adjacent and
  * overlapping specials, specials at a turn's edges, empty and
  * gpt-only turns, runs of 256 `<im_patch>`). */
class IntTokenizeSpec extends AnyFunSuite {

  // ---------------------------------------------------------- the oracle

  private def oracleTokenize(model: SubwordModel, specials: Map[String, Int])(
      text: String): IndexedSeq[Int] = {
    val toks = specials.toArray
    val out = IndexedSeq.newBuilder[Int]
    val nextPos = toks.map { case (t, _) => text.indexOf(t) }
    var cur = 0
    while (cur < text.length) {
      var best = -1
      var i = 0
      while (i < toks.length) {
        if (nextPos(i) >= 0 && nextPos(i) < cur)
          nextPos(i) = text.indexOf(toks(i)._1, cur)
        if (nextPos(i) >= 0 &&
          (best < 0 || nextPos(i) < nextPos(best) ||
            (nextPos(i) == nextPos(best) &&
              toks(i)._1.length > toks(best)._1.length)))
          best = i
        i += 1
      }
      if (best < 0) {
        out ++= model.encode(text.substring(cur))
        cur = text.length
      } else {
        val pos = nextPos(best)
        if (pos > cur) out ++= model.encode(text.substring(cur, pos))
        out += toks(best)._2
        cur = pos + toks(best)._1.length
      }
    }
    out.result()
  }

  private def oracleConversation(
      conversation: Seq[Turn], tokenize: String => IndexedSeq[Int]):
      (IndexedSeq[Int], IndexedSeq[Int], String) = {
    val ids = IndexedSeq.newBuilder[Int]
    val mask = IndexedSeq.newBuilder[Int]
    val text = new StringBuilder(Conversations.BosToken)
    ids += 1
    mask += 0
    conversation.zipWithIndex.foreach { case (turn, idx) =>
      val tmp = turn.value +
        (if (turn.from == "gpt") Conversations.EosToken else "")
      val tokIds = tokenize(tmp)
      val label = if (turn.from == "human") 0 else 1
      if (idx > 0) text.append('\n')
      text.append(tmp)
      ids ++= tokIds
      mask ++= IndexedSeq.fill(tokIds.length)(label)
    }
    (ids.result(), mask.result(), text.toString)
  }

  private def oracleMerge(docs: Seq[(Seq[Int], Seq[Int])]):
      (Seq[Int], Seq[Int]) =
    (docs.head._1 ++ docs.tail.flatMap(_._1.drop(1)),
      docs.head._2 ++ docs.tail.flatMap(_._2.drop(1)))

  // ------------------------------------------------------------ the cases

  private lazy val spModel: SentencePieceModel = {
    val in = getClass.getResourceAsStream("/tiny.model")
    assert(in != null, "tiny.model fixture missing")
    SentencePieceModel.parse(in.readAllBytes())
  }

  private def models: Seq[(String, SubwordModel)] =
    Seq("sentencepiece" -> spModel, "wordhash" -> new WordHashModel)

  /** two specials at one position: the longer one must win the tie. */
  private val tieSpecials = Tokenizers.MultimodalSpecials ++
    Map("<a>" -> 40, "<a><b>" -> 41, "<b>" -> 42, "b>" -> 43)

  private val patches = Conversations.SpecialToken

  private val hostileTurns: Seq[String] = Seq(
    "<s></s>", "</s><s>", "<s/s>", "<</s>s>", "<<s>>", "</s</s>>", "<s>s>",
    "</s>", "<s>", "", " ", "<im_start><im_end>", "<im_end><im_start>",
    "<im_patch<im_patch>>", "<im_patch><im_patch>", "<image>",
    patches, patches + patches, "x" + patches, patches + "x",
    "the " + patches + " fox " + patches + "</s>",
    "<a><b>", "<a><a><b><b>", "<a>b>", "x<a><b>y<b>",
    "say \"hi\" ünïcödé 😀 \ud800 tail\u0001", "\udc00</s>", "the quick fox")

  private def randomConversation(rnd: Random): Seq[Turn] = {
    val words = hostileTurns ++ Seq("a", "cat", "sat", "the", "▁", "  ")
    Seq.fill(rnd.nextInt(6)) {
      val from = if (rnd.nextInt(3) == 0) "human" else "gpt"
      Turn(from, Seq.fill(rnd.nextInt(8))(words(rnd.nextInt(words.length)))
        .mkString(if (rnd.nextBoolean()) " " else ""))
    }
  }

  private def conversations: Seq[Seq[Turn]] = {
    val rnd = new Random(5)
    Seq(
      Nil,
      Seq(Turn("gpt", "")),
      Seq(Turn("gpt", "only"), Turn("gpt", ""), Turn("gpt", "</s>")),
      Seq(Turn("human", ""), Turn("gpt", "")),
      Seq(Turn("human", patches * 4 + "describe"), Turn("gpt", "a cat")),
      Conversations.conversate("<image><image>" + "q", "a</s>b", "un")
    ) ++ hostileTurns.flatMap(t =>
      Seq(Seq(Turn("human", t)), Seq(Turn("gpt", t)),
        Seq(Turn("human", t), Turn("gpt", t), Turn("tool", t)))) ++
      Seq.fill(200)(randomConversation(rnd))
  }

  test("tokenizeInto equals the Vector scan, both models, hostile layouts") {
    for ((name, m) <- models;
        specials <- Seq(Tokenizers.MultimodalSpecials, tieSpecials)) {
      val tok = new SpecialTokenTokenizer(m, specials)
      val out = new IntBuffer(1)
      (hostileTurns ++ conversations.flatten.map(_.value)).foreach { t =>
        out.clear()
        tok.tokenizeInto(t, out)
        assert(out.toArray.toSeq == oracleTokenize(m, specials)(t),
          s"$name: $t")
      }
    }
  }

  test("a tie at one position goes to the longer special") {
    val tok = new SpecialTokenTokenizer(new WordHashModel, tieSpecials)
    val out = new IntBuffer
    tok.tokenizeInto("<a><b><a>b>", out)
    assert(out.toArray.toSeq == Seq(41, 40, 43))
  }

  test("tokenizeConversation equals the Vector framing: ids, mask and text") {
    for ((name, m) <- models) {
      val tok = new SpecialTokenTokenizer(m, Tokenizers.MultimodalSpecials)
      val oracle = oracleTokenize(m, Tokenizers.MultimodalSpecials) _
      // shared scratch across calls, as the stage uses it
      val (ids, mask) = (new IntBuffer(2), new IntBuffer(2))
      conversations.foreach { c =>
        val (gi, gm, gt) = Tokenizers.tokenizeConversation(c, tok, ids, mask)
        val (wi, wm, wt) = oracleConversation(c, oracle)
        assert(gi.toSeq == wi, s"$name ids: $c")
        assert(gm.toSeq == wm, s"$name mask: $c")
        assert(gt == wt, s"$name text: $c")
        // fresh buffers give the same answer
        val (fi, fm, _) = Tokenizers.tokenizeConversation(c, tok)
        assert(fi.toSeq == wi && fm.toSeq == wm)
      }
    }
  }

  test("merge equals the Vector merge over the tokenized docs") {
    val rnd = new Random(9)
    for ((name, m) <- models) {
      val tok = new SpecialTokenTokenizer(m, Tokenizers.MultimodalSpecials)
      val docs = conversations.zipWithIndex.map { case (c, i) =>
        val (ids, mask, text) = Tokenizers.tokenizeConversation(c, tok)
        TokDoc(s"0-$i", Nil, Nil, ids, mask, text)
      }
      // hand-made edge docs: empty and BOS-only arrays
      val edge = Seq(TokDoc("e-0", Nil, Nil, Array.empty, Array.empty, ""),
        TokDoc("e-1", Nil, Nil, Array(1), Array(0), "b"))
      (Seq(docs.take(1), edge, edge.reverse, edge ++ docs.take(3)) ++
        Seq.fill(100)(
          Seq.fill(1 + rnd.nextInt(6))(docs(rnd.nextInt(docs.length))))
      ).foreach { group =>
        val got = TokenizeStage.merge("k", group)
        val (wi, wm) =
          oracleMerge(group.map(d => (d.inputIds.toSeq, d.lossMask.toSeq)))
        assert(got.inputIds.toSeq == wi, s"$name ids")
        assert(got.lossMask.toSeq == wm, s"$name mask")
        assert(got.text == group.map(_.text))
      }
    }
  }

  test("IntBuffer grows from capacity 1 through every append kind") {
    val b = new IntBuffer(1)
    val want = IndexedSeq.newBuilder[Int]
    val rnd = new Random(3)
    (0 until 500).foreach { _ =>
      rnd.nextInt(3) match {
        case 0 => val v = rnd.nextInt(); b += v; want += v
        case 1 =>
          val xs = Array.fill(rnd.nextInt(40))(rnd.nextInt())
          b ++= xs.toIndexedSeq; want ++= xs
        case _ =>
          val (n, v) = (rnd.nextInt(40), rnd.nextInt(2))
          b.fill(n, v); want ++= Seq.fill(n)(v)
      }
    }
    assert(b.toArray.toSeq == want.result())
    assert(b.length == want.result().length)
    b.clear()
    assert(b.length == 0 && b.toArray.isEmpty)
  }
}
