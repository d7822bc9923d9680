package graft.tokenize

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.SparkSpec
import graft.wds.{Sample, TarIO}
import org.apache.spark.sql.Encoders

/** Golden bytes of the tokenize stage: [[TokenizeStage.run]] over a
  * deterministic in-test pack corpus must write tars with exactly the
  * pinned sha256, through the SentencePiece model (`tiny.model`) and
  * the word-hash model. The corpus is two merge groups of two pack
  * tars each, with hostile captions (quotes, backslashes, control
  * characters, non-ASCII, emoji, lone surrogates, special-token
  * spellings), conversation samples with empty and gpt-only turns,
  * invalid samples that must be skipped and one doc too long to pack.
  * The digests were taken from the Vector/Jackson bin path, before
  * tokenize carried primitive ints. */
class TokenizeGoldenSpec extends SparkSpec {

  private val MaxTok = 1500

  /** JSON string literal with every char outside printable ASCII
    * written as a `\\uXXXX` escape, so a lone surrogate reaches the
    * stage's parser intact. */
  private def jstr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < 0x20 || c > 0x7e => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** a PNG signature + IHDR of a 2×2 image: the stage's header probe
    * passes it through unresized, so no codec runs. */
  private def png(tag: Int): Array[Byte] = {
    val head = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 13, 'I', 'H', 'D', 'R', 0, 0, 0, 2, 0, 0, 0, 2)
    (head :+ (tag & 0xff) :+ (tag >> 8)).map(_.toByte)
  }

  private val words = Seq("the", "quick", "fox", "a", "cat", "sat",
    "say \"hi\"", "back\\slash", "tab\there", "new\nline", "ctrl\u0001\u001f",
    "del\u007f", "slash/", "ünïcödé", "中文", "😀", "pair 𐀀", "lone \ud800",
    "\udc00low", "  ", "</s>", "<s>", "</s><s>", "<im_patch>",
    "<im_start>x<im_end>", "<image>", "▁▁", "")

  private def caption(rnd: Random, n: Int): String =
    Seq.fill(n)(words(rnd.nextInt(words.length))).mkString(" ")

  /** one pack-shard sample; `kind` picks the json layout. */
  private def sample(
      rnd: Random, key: String, url: String, kind: Int): Sample = {
    val nImg = rnd.nextInt(3)
    val names = (0 until nImg).map(i => s"$key-$i")
    val images = names.indices.map(i => s"$i.jpg" -> png(i + 7 * key.length))
    val json = kind match {
      case 0 => // prompt/txt, valid
        s"""{"prompt":${jstr("describe " + "<image>" * nImg)},""" +
          s""""txt":${jstr(caption(rnd, 1 + rnd.nextInt(40)))},""" +
          s""""image_name_list":[${names.map(jstr).mkString(",")}]}"""
      case 1 => // conversations: empty turns, a gpt-only tail
        val turns = Seq(
          "human" -> ("<image>" * nImg + caption(rnd, 3)),
          "gpt" -> "",
          "human" -> "",
          "gpt" -> caption(rnd, 5),
          "gpt" -> "</s>")
        val js = turns.map { case (f, v) =>
          s"""{"from":${jstr(f)},"value":${jstr(v)}}""" }
        s"""{"conversations":[${js.mkString(",")}],""" +
          s""""image_name_list":[${names.map(jstr).mkString(",")}]}"""
      case 2 => // counts mismatch: skipped by the stage
        s"""{"prompt":"<image>","txt":"x",""" +
          s""""image_name_list":["$key-0","$key-1"]}"""
      case _ => // longer than a bin: skipped by the packer
        s"""{"prompt":"<image><image><image><image><image><image>",""" +
          s""""txt":"long",""" +
          s""""image_name_list":[""" +
          (0 until 6).map(i => jstr(s"$key-$i")).mkString(",") + "]}"
    }
    val imgs = kind match {
      case 2 => Seq("0.jpg" -> png(1), "1.jpg" -> png(2))
      case 3 => (0 until 6).map(i => s"$i.jpg" -> png(i))
      case _ => images
    }
    Sample(key, url, (imgs :+ ("json" -> TarIO.utf8(json))).toMap)
  }

  /** 2 merge groups × 2 tars × 7 samples, one slice per group. */
  private def corpus(): Seq[Sample] = {
    val rnd = new Random(11)
    for {
      g <- 0 until 2
      t <- 0 until 2
      i <- 0 until 7
    } yield {
      val kind =
        if (i == 3 && t == 0) 2 else if (i == 5 && g == 1) 3
        else if (i % 3 == 1) 1 else 0
      sample(rnd, s"g$g-t$t-$i", s"pack/g$g-t$t.tar", kind)
    }
  }

  private def sha256(p: Path): String =
    MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p))
      .map(b => f"$b%02x").mkString

  private def tarDigests(tok: SpecialTokenTokenizer): Map[String, String] = {
    val samples = corpus()
    val ds = spark.createDataset(
      spark.sparkContext.parallelize(samples, 2))(Encoders.product[Sample])
    val out = Files.createTempDirectory("tokgolden")
    val bins = TokenizeStage.run(ds, out.toUri.toString, tok, MaxTok)
      .collect().map(_.getAs[Long]("nsamples"))
    assert(bins.length == 2 && bins.forall(_ >= 2), "every group packs bins")
    Files.list(out).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".tar"))
      .map(p => p.getFileName.toString -> sha256(p)).toMap
  }

  private lazy val spModel: SentencePieceModel = {
    val in = getClass.getResourceAsStream("/tiny.model")
    assert(in != null, "tiny.model fixture missing")
    SentencePieceModel.parse(in.readAllBytes())
  }

  test("SentencePiece tokenizer: tokenized tars match the pinned sha256") {
    val got = tarDigests(
      new SpecialTokenTokenizer(spModel, Tokenizers.MultimodalSpecials))
    assert(got == Map(
      "shard_0-000000.tar" ->
        "bf0433a7ddd6981e5aaf02273cd6eea24f4a59f7562c07268ca1a0b455073624",
      "shard_1-000000.tar" ->
        "e0a868c1beebd8097ef6a290779d634b823bb0f370adb96523df824c5836900c"))
  }

  test("word-hash tokenizer: tokenized tars match the pinned sha256") {
    val got = tarDigests(Tokenizers.testTokenizer())
    assert(got == Map(
      "shard_0-000000.tar" ->
        "d4f13752d8de229b51dc4899e90c46be03f979587b61d35decfd4652b382b1f9",
      "shard_1-000000.tar" ->
        "d8b2218227cfa45c24494294d913006a2fa2f4a5acd62dfa4a720b6938931682"))
  }
}
