package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.util.Random

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** [[ShingleHash]]'s relations over the [[ShingleHashes]] expression
  * against the per-gram String kernel it replaced, kept here only as
  * the oracle: `exploded` and `positional` must return the same rows
  * in the same order for k = 1, 3 and 5, on the fixture's documents,
  * seeded random texts and hostile texts (surrogates, case mappings
  * that change length, runs of spaces, other whitespace). */
class ShingleHashSpec extends SparkSpec {
  import spark.implicits._
  import ShingleHashSpec.hostile

  private val sf = "/root/testdata/sf0.001"
  private val widths = Seq(1, 3, 5)

  private def docs(texts: Seq[String]): DataFrame =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")

  /** Both relations equal the oracle's, row for row and in order, at
    * every width, with whole-stage codegen on and off. */
  private def assertSame(df: DataFrame, texts: Seq[String] = Nil): Unit =
    for (wholeStage <- Seq("true", "false"); k <- widths)
      withConf("spark.sql.codegen.wholeStage" -> wholeStage) {
        def text(r: Row) =
          if (texts.isEmpty) "" else s" text: ${texts(r.getLong(0).toInt)}"
        val got = ShingleHash.exploded(df, k).collect().toSeq
        val want = ShingleHashOracle.exploded(df, k).collect().toSeq
        assert(got.length == want.length, s"k=$k exploded sizes")
        got.zip(want).foreach { case (g, w) =>
          assert(g == w, s"k=$k exploded${text(g)}")
        }
        val gotPos = ShingleHash.positional(df, k).collect().toSeq
        val wantPos = ShingleHashOracle.positional(df, k).collect().toSeq
        assert(gotPos.length == wantPos.length, s"k=$k positional sizes")
        gotPos.zip(wantPos).foreach { case (g, w) =>
          assert(g == w, s"k=$k positional${text(g)}")
        }
      }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def randomTexts(seed: Long, n: Int): Seq[String] = {
    val rnd = new Random(seed)
    val vocab = Seq("a", "b", "The", "the", "THE", "é", "Éa", "日本", "語",
      "😀", "\uD83D", "\uDE00", "İ", "K", "x\ty", "",
      "lorem", "ipsum", "dolor", "Σ", "ß")
    Seq.fill(n) {
      val words = rnd.nextInt(40)
      Seq.fill(words)(vocab(rnd.nextInt(vocab.length)))
        .mkString(if (rnd.nextInt(10) == 0) "  " else " ")
    }
  }

  test("the fixture's documents: same rows as the String kernel") {
    val df = graft.Tables(spark, sf).documents
      .select(col("doc_id"), col("text"))
      .filter(col("text").isNotNull)
    assert(df.count() > 0)
    assertSame(df)
  }

  test("seeded random texts: same rows as the String kernel") {
    for (seed <- 1L to 3L) {
      val texts = randomTexts(seed, 150)
      assertSame(docs(texts), texts)
    }
  }

  test("hostile texts: same rows as the String kernel") {
    assertSame(docs(hostile), hostile)
  }

  test("invalid UTF-8 text decodes to U+FFFD on both sides") {
    val bytes = Seq(Array[Byte](0x41, 0x20, 0xff.toByte, 0x20, 0x42),
      Array[Byte](0xc3.toByte, 0x20, 0x61, 0x20, 0xed.toByte, 0xa0.toByte,
        0xbd.toByte, 0x20, 0x62))
    val df = bytes.zipWithIndex.map { case (b, i) => (i.toLong, b) }
      .toDF("doc_id", "b")
      .select(col("doc_id"), col("b").cast(StringType).as("text"))
    assertSame(df)
  }

  test("a lone surrogate hashes as '?', as the String kernel's getBytes did") {
    // UTF8String.fromString already encodes it as '?', and decoding a
    // UTF8String never yields one, so the kernel cannot see it
    val k = 2
    val lone = ShingleHash.exploded(docs(Seq("ab\uD83D \uDE00cd ef")), k)
      .collect().toSeq
    val marks = ShingleHash.exploded(docs(Seq("ab? ?cd ef")), k)
      .collect().toSeq
    assert(lone == marks)
  }

  test("the lowercase ignores the JVM default locale") {
    val texts = Seq("TITLE IN ISTANBUL I I", "İ I ı i")
    val prev = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr-TR"))
    try assertSame(docs(texts), texts)
    finally java.util.Locale.setDefault(prev)
  }

  private def md5hex16(s: String): String = MessageDigest.getInstance("MD5")
    .digest(s.getBytes(UTF_8)).take(8).map("%02x".format(_)).mkString

  test("a repeated gram keeps its first occurrence; positions keep all") {
    val df = docs(Seq("B a b A b a"))
    val sh = ShingleHash.exploded(df, 2).as[(Long, String)].collect().toSeq
    assert(sh == Seq("b a", "a b").map(g => (0L, md5hex16(g))))
    val pos = ShingleHash.positional(df, 2).as[(Long, Int, String)]
      .collect().toSeq
    assert(pos == Seq("b a", "a b", "b a", "a b", "b a").zipWithIndex
      .map { case (g, i) => (0L, i + 1, md5hex16(g)) })
  }

  test("schemas: (doc_id long, sh string) and (doc_id, pos int, sh)") {
    val df = Seq((1, "a b")).toDF("doc_id", "text")
    assert(ShingleHash.exploded(df, 3).schema.map(f => (f.name, f.dataType))
      == Seq("doc_id" -> LongType, "sh" -> StringType))
    assert(ShingleHash.positional(df, 3).schema.map(f => (f.name, f.dataType))
      == Seq("doc_id" -> LongType, "pos" -> IntegerType, "sh" -> StringType))
  }

  test("a null text yields no rows; a null doc_id passes through") {
    val df = Seq[(java.lang.Long, String)](
      (1L, null), (null, "x y z"), (2L, "p q"))
      .toDF("doc_id", "text")
    for (wholeStage <- Seq("true", "false"))
      withConf("spark.sql.codegen.wholeStage" -> wholeStage) {
        val sh = ShingleHash.exploded(df, 2).collect().toSeq
        assert(sh == Seq(Row(null, md5hex16("x y")), Row(null, md5hex16("y z")),
          Row(2L, md5hex16("p q"))))
        val pos = ShingleHash.positional(df, 2).collect().toSeq
        assert(pos == Seq(Row(null, 1, md5hex16("x y")),
          Row(null, 2, md5hex16("y z")), Row(2L, 1, md5hex16("p q"))))
      }
  }

  private def interpreted(texts: Seq[String], k: Int,
      distinct: Boolean): Seq[Seq[String]] =
    texts.map { t =>
      val a = ShingleHashes(Literal(UTF8String.fromString(t), StringType),
        k, distinct).eval().asInstanceOf[ArrayData]
      a.toSeq[UTF8String](StringType).map(_.toString)
    }

  private def codegen(texts: Seq[String], k: Int,
      distinct: Boolean): Seq[Seq[String]] = {
    // the exchange keeps the projection off the local relation, so it
    // runs in generated code rather than folded on the driver
    val out = docs(texts).repartition(2)
      .select(col("doc_id"), ShingleHashes.hashes(col("text"), k, distinct)
        .as("sh"))
    val plan = withConf("spark.sql.adaptive.enabled" -> "false")(
      out.queryExecution.executedPlan)
    assert(plan.exists {
      case w: WholeStageCodegenExec =>
        w.child.expressions.exists(_.exists(_.isInstanceOf[ShingleHashes]))
      case _ => false
    }, s"shingle_hashes outside whole-stage codegen:\n$plan")
    out.orderBy("doc_id").collect().toSeq.map(_.getSeq[String](1))
  }

  test("interpreted and codegen paths agree") {
    val texts = hostile ++ randomTexts(7L, 60)
    for (k <- widths; distinct <- Seq(true, false))
      assert(interpreted(texts, k, distinct) == codegen(texts, k, distinct),
        s"k=$k distinct=$distinct")
  }
}

/** The pre-expression kernel: one typed mapPartitions, verbatim. */
object ShingleHashOracle {
  def kGrams(text: String, k: Int): Array[String] = {
    val ws = text.toLowerCase(java.util.Locale.ROOT).split(" ", -1)
    if (ws.length >= k)
      Array.tabulate(ws.length - k + 1)(i => ws.slice(i, i + k).mkString(" "))
    else Array(ws.mkString(" "))
  }

  def exploded(df: DataFrame, k: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("sh", StringType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(schema)
    df.select("doc_id", "text")
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
      .mapPartitions { it =>
        val md = MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          val grams = kGrams(text, k)
          val seen = new java.util.LinkedHashSet[String](grams.length * 2)
          var i = 0
          while (i < grams.length) {
            seen.add(hex16(md.digest(grams(i).getBytes(UTF_8))))
            i += 1
          }
          val out = new Array[Row](seen.size)
          val jt = seen.iterator()
          var j = 0
          while (jt.hasNext) { out(j) = Row(id, jt.next()); j += 1 }
          out.iterator
        }
      }(enc)
  }

  def positional(df: DataFrame, k: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("pos", IntegerType),
      StructField("sh", StringType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(schema)
    df.select("doc_id", "text")
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
      .mapPartitions { it =>
        val md = MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          val grams = kGrams(text, k)
          Array.tabulate(grams.length)(i =>
            Row(id, i + 1, hex16(md.digest(grams(i).getBytes(UTF_8)))))
        }
      }(enc)
  }

  def hex16(d: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(16)
    var i = 0
    while (i < 8) {
      sb.append(Character.forDigit((d(i) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(d(i) & 0xf, 16))
      i += 1
    }
    sb.toString
  }
}

object ShingleHashSpec {
  /** texts that stress a ' ' word split: surrogates, case mappings that
    * change length, runs of spaces, other whitespace, few words. */
  val hostile: Seq[String] = Seq(
    // lone surrogates at a word's end and start, and alone
    "ab\uD83D cd ef gh ij", "ab \uDE00cd ef gh", "\uD83D", "\uDE00",
    "x \uD83D \uDE00 y z", "\uDE00\uD83D a b c d e",
    // surrogate pairs and accented text
    "😀 smile 😀 smile 😀",
    "Café Crème brûlée à la carte Ünïcödé ÉTÉ",
    // lowercase of a different length: İ → i̇, K (kelvin) → k, Å → å
    "İSTANBUL İzmir İ i İ", "KK K Å Å", "ΟΔΟΣ ΟΔΟΣ ΣΑΣ",
    "ǅ ǈ ǋ ǲ", "ﬀ ß ẞ",
    // empty, spaces only, doubled, leading and trailing spaces
    "", " ", "   ", "a  b  c  d  e  f", " a b c d e", "a b c d e ",
    "  a b  ", "a b c d e f g h i j ", " ",
    // the split is on ' ' only
    "a\tb\tc d\ne f\r\ng h", "\t\t\t", "\n", "a b c d e f",
    // fewer words than k, exactly k words
    "one", "one two", "one two three", "one two three four five",
    "one two three four five six",
    // one gram repeated many times
    Seq.fill(200)("la").mkString(" "), Seq.fill(60)("a b c").mkString(" "),
    Seq.fill(40)("Dup dup DUP").mkString(" "))
}
