package graft.tokenize

import graft.tokenize.TokenizeStage.Packed
import graft.wds.TarIO
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** Byte identity of the tokenized bin's json entry: the byte writer
  * [[BinJson]] behind [[TokenizeStage.toSampleGroup]] must produce
  * exactly the bytes json4s `compact(render(…))` of the same four
  * fields produced, which stays here only as the oracle. */
class BinJsonSpec extends AnyFunSuite {

  private def oracle(p: Packed): Array[Byte] = {
    val json: JValue =
      ("image" -> p.image) ~
        ("input_ids" -> p.inputIds.toSeq) ~
        ("loss_mask" -> p.lossMask.toSeq) ~
        ("text" -> p.text)
    TarIO.utf8(JsonMethods.compact(JsonMethods.render(json)))
  }

  private def assertSame(p: Packed): Unit = {
    val got = TokenizeStage.toSampleGroup(p).entries("json")
    val want = oracle(p)
    assert(got.sameElements(want),
      s"\n got: ${new String(got, "UTF-8")}\nwant: ${new String(want, "UTF-8")}")
  }

  private def packed(
      image: Seq[String] = Seq("0"),
      ids: Seq[Int] = Seq(1, 2),
      mask: Seq[Int] = Seq(0, 1),
      text: Seq[String] = Seq("t")): Packed =
    Packed("0-0", image, image.map(_ => Array[Byte](1)), ids.toArray,
      mask.toArray, text)

  private val controls = (0 until 0x20).map(_.toChar).mkString

  test("hostile text: quotes, backslash, </, control chars, non-ASCII, surrogates") {
    Seq(
      "say \"hi\"",
      "back\\slash \\u0041 \\\"",
      "</script><!-- -->",
      controls,
      "\u007f\u0080\u00ff\u2028\u2029\ufeff\uffff",
      "ünïcödé 中文 ▁▁ Ελληνικά",
      "pair 😀 and 𐀀",
      "lone high \ud800 end",
      "lone low \udc00 mid",
      "trailing high \ud83d",
      "\udc00\ud800 reversed pair"
    ).foreach(t => assertSame(packed(text = Seq(t))))
    assertSame(packed(text = Seq(controls, "\"", "\\", "</", "\ud800")))
    assertSame(packed(image = Seq("\"quoted\"", "\\", "ü\ud800", controls)))
  }

  test("empty image, empty text, empty input_ids and loss_mask") {
    assertSame(packed(image = Nil))
    assertSame(packed(text = Nil))
    assertSame(packed(text = Seq("")))
    assertSame(packed(text = Seq("", "", "")))
    assertSame(packed(ids = Nil, mask = Nil))
    assertSame(packed(image = Nil, ids = Nil, mask = Nil, text = Nil))
  }

  test("negative, zero and extreme ids") {
    val ids = Seq(Int.MinValue, -32000, -1, 0, 1, 9, 10, 32001,
      Int.MaxValue - 1, Int.MaxValue)
    assertSame(packed(ids = ids, mask = ids.reverse))
  }

  test("every ASCII char alone and next to multi-byte chars") {
    (0 until 0x80).map(_.toChar).foreach { c =>
      assertSame(packed(text = Seq(c.toString, s"é${c}中", s"$c😀", s"😀${c}€")))
      assertSame(packed(image = Seq(c.toString, s"ü${c}")))
    }
    assertSame(packed(text = Seq((0 until 0x80).map(_.toChar).mkString)))
  }

  test("lone surrogates at the start and end of a string") {
    Seq("\ud800abc", "abc\udbff", "\udc00abc", "abc\udfff", "\ud800",
      "\udfff", "\ud83d\ud83d", "\ude00\ud83d", "\ud800\"", "\"\udc00",
      "\n\ud800\t", "\ud83d😀\ude00"
    ).foreach { t =>
      assertSame(packed(text = Seq(t)))
      assertSame(packed(image = Seq(t), text = Seq(t, t)))
    }
  }

  test("strings that are only escapes") {
    Seq("\"", "\\", "\"\\\"", "\b\t\n\f\r", controls, controls * 3,
      "\u0000", "\u001f\u0000\u001f", "\\\\\\\\", "\"\"\"\"\"\""
    ).foreach { t =>
      assertSame(packed(text = Seq(t)))
      assertSame(packed(image = Seq(t, t), text = Seq(t, "", t)))
    }
  }

  test("ids in every decimal-length bucket, both signs") {
    val pow = Iterator.iterate(1L)(_ * 10).takeWhile(_ <= 1000000000L)
      .map(_.toInt).toSeq
    val ids = Seq(0, Int.MaxValue, Int.MinValue, Int.MinValue + 1) ++
      pow.flatMap(p => Seq(p - 1, p, p + 1)) ++
      pow.flatMap(p => Seq(-p + 1, -p, -p - 1))
    assertSame(packed(ids = ids, mask = ids.reverse))
    ids.foreach(i => assertSame(packed(ids = Seq(i), mask = Seq(i))))
  }

  test("seeded random bins of a realistic size") {
    val rnd = new scala.util.Random(7)
    val alphabet = "ab \"\\/<>\n\t\u0000\u001f\u007fü中😀𐀀▁"
    def str(n: Int) = Seq.fill(n)(alphabet.charAt(rnd.nextInt(alphabet.length))).mkString
    (0 until 20).foreach { _ =>
      val n = rnd.nextInt(9000)
      val images = Seq.tabulate(rnd.nextInt(4))(_.toString)
      assertSame(packed(
        image = images,
        ids = Seq.fill(n)(rnd.nextInt(32003) - rnd.nextInt(2)),
        mask = Seq.fill(n)(rnd.nextInt(2)),
        text = Seq.fill(rnd.nextInt(4))(str(rnd.nextInt(400)))))
    }
  }

  test("frame entries and key ride along unchanged") {
    val p = Packed("3-7", Seq("0", "1"),
      Seq(Array[Byte](1, 2), Array[Byte](3)), Array(1), Array(0), Seq("x"))
    val s = TokenizeStage.toSampleGroup(p, "url")
    assert(s.key == "3-7" && s.url == "url")
    assert(s.entries.keySet == Set("json", "0.jpg", "1.jpg"))
    assert(s.entries("1.jpg").sameElements(Array[Byte](3)))
  }
}
