package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.SparkSpec
import graft.index.CheckStage
import graft.index.CheckStage._
import graft.pack.PackStage
import graft.tokenize.TokenizeStage
import graft.wds.{Sample, WdsReader}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

/** `CheckStage.checked` over the [[PackedJsonStats]] scan against the
  * `from_json` + `array_remove` spelling it replaced, kept here only as
  * the oracle: every column must be identical, row for row, on real
  * tokenized tars, seeded random and mutated bins, and hostile json
  * whose `from_json` reading is fixed by Spark's parser (partial
  * records, duplicate keys, trailing text, Spark's JSON options). */
class PackedJsonStatsSpec extends SparkSpec {

  private implicit val sampleEnc: org.apache.spark.sql.Encoder[Sample] =
    Encoders.product[Sample]

  /** The pre-kernel `checked`, verbatim. */
  private def oracle(shards: Dataset[Sample]): DataFrame = {
    val df = shards.toDF()
      .withColumn("j", from_json(
        decode(col("entries").getItem("json"), "UTF-8"), PackedJsonSchema))
    def countId(id: Int) =
      size(col("j.input_ids")) -
        size(array_remove(col("j.input_ids"), id))
    val bad = (c: Column) => coalesce(c, lit(true))
    df.select(
      col("key"), col("url"),
      size(col("j.input_ids")).as("n_tokens"),
      size(col("j.image")).as("n_images"),
      (col("j").isNull || col("j.input_ids").isNull).as("bad_parse"),
      bad(size(col("j.input_ids")) =!= size(col("j.loss_mask")))
        .as("bad_mask_len"),
      bad(size(col("j.input_ids")) >= MaxTokens).as("bad_token_len"),
      bad(countId(ImStartId) =!= countId(ImEndId)).as("bad_start_end"),
      bad(countId(ImPatchId) =!= size(col("j.image")) * PatchesPerImage)
        .as("bad_patch_count"))
  }

  private def samples(docs: Seq[Array[Byte]]): Dataset[Sample] =
    spark.createDataset(docs.zipWithIndex.map { case (d, i) =>
      Sample(f"$i%06d", "mem", Map("json" -> d))
    })

  private def rows(df: DataFrame): Seq[Row] =
    df.orderBy("key", "url").collect().toSeq

  /** Kernel and oracle agree on every column of every row. */
  private def assertSame(shards: Dataset[Sample], docs: Seq[String] = Nil): Unit = {
    val got = CheckStage.checked(shards)
    val want = oracle(shards)
    assert(got.schema.map(f => (f.name, f.dataType)) ==
      want.schema.map(f => (f.name, f.dataType)))
    val g = rows(got)
    val w = rows(want)
    assert(g.length == w.length)
    g.zip(w).foreach { case (a, b) =>
      val doc = if (docs.isEmpty) "" else docs(a.getString(0).toInt)
      assert(a == b, s"\n json: $doc\n  got: $a\n want: $b")
    }
  }

  private def assertSameDocs(docs: Seq[String]): Unit =
    assertSame(samples(docs.map(_.getBytes(UTF_8))), docs)

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val ok =
    """"image":["0"],"loss_mask":[0,1,1,1],"text":["t"]"""

  /** Inputs whose from_json reading follows from Spark's JacksonParser
    * (PERMISSIVE mode, Spark's JSONOptions factory). */
  private val hostile: Seq[String] = Seq(
    // a string, float or out-of-int-range element nulls only its field
    s"""{$ok,"input_ids":[1,"2",32001,32002]}""",
    s"""{$ok,"input_ids":[1,2.5,32001,32002]}""",
    s"""{$ok,"input_ids":[1,2147483648,32001,32002]}""",
    s"""{$ok,"input_ids":[-2147483649,1,32001,32002]}""",
    s"""{$ok,"input_ids":[2147483647,-2147483648,32001,32002]}""",
    s"""{"image":["0"],"input_ids":[32001,32002],"loss_mask":[1,"x"],"text":["t"]}""",
    s"""{"image":["0",1,{"a":[1]},[2],true,null],"input_ids":[1],"loss_mask":[1]}""",
    // null elements count toward size and match no id
    s"""{$ok,"input_ids":[32001,null,32002,null]}""",
    """{"image":[null],"input_ids":[null],"loss_mask":[null],"text":[null]}""",
    // duplicate keys: the last one wins; a failed later value keeps
    // the earlier one, a null later value nulls it
    s"""{$ok,"input_ids":[1],"input_ids":[32001,32002,3,4]}""",
    s"""{$ok,"input_ids":[32001,32002,3,4],"input_ids":[1,"x"]}""",
    s"""{$ok,"input_ids":[32001,32002,3,4],"input_ids":null}""",
    s"""{$ok,"input_ids":[32001,32002,3,4],"input_ids":"abc"}""",
    s"""{$ok,"input_ids":[32001,32002,3,4],"input_ids":{}}""",
    """{"image":["0"],"image":[],"input_ids":[1],"loss_mask":[1]}""",
    // text after the root object is ignored
    s"""{$ok,"input_ids":[1,2,3,4]} trailing garbage""",
    s"""{$ok,"input_ids":[1,2,3,4]}{"input_ids":[]}""",
    s"""{$ok,"input_ids":[1,2,3,4]}]]]""",
    // a truncated document or a top-level array nulls every field
    s"""{$ok,"input_ids":[1,2""",
    s"""{$ok,"input_ids":[1,2,3,4]""",
    s"""{$ok,"input_ids":[1,2,3,4],""",
    s"""{$ok,"input_ids":[1,2,3,4],"te""",
    s"""[{$ok,"input_ids":[1,2,3,4]}]""",
    "[]",
    // an empty or blank entry gives a null struct
    "", "   ", "\n\t \r\n",
    // other roots
    "null", "5", "\"x\"", "\"\"", "true", "{}", "{ }",
    // field names are case-sensitive
    s"""{$ok,"Input_Ids":[1,2,3,4]}""",
    s"""{"IMAGE":["0"],"input_ids":[1],"loss_mask":[1],"TEXT":[]}""",
    // Spark's options: NaN/Infinity and single quotes are accepted;
    // comments, leading zeros and unquoted names are not
    s"""{"image":["0"],"input_ids":[1,2],"loss_mask":[1,1],"text":[NaN,Infinity,-Infinity,"x"]}""",
    """{'image':['0'],'input_ids':[32001,32002],'loss_mask':[1,1],'text':['t']}""",
    s"""{$ok,"input_ids":[1,NaN,3,4]}""",
    s"""{$ok,"input_ids":[1,2,3,4] /* c */}""",
    s"""{$ok,"input_ids":[1,02,3,4]}""",
    s"""{$ok,input_ids:[1,2,3,4]}""",
    // wrong shapes
    s"""{$ok,"input_ids":[[1],2,3,4]}""",
    s"""{$ok,"input_ids":[1,{"input_ids":[5]},3,4]}""",
    s"""{$ok,"input_ids":"1,2,3,4"}""",
    s"""{$ok,"input_ids":""}""",
    s"""{$ok,"input_ids":["",1,2,3]}""",
    s"""{$ok,"input_ids":5}""",
    s"""{$ok,"input_ids":true}""",
    s"""{$ok,"input_ids":[1,2,3,4,]}""",
    s"""{$ok,"input_ids":[1 2 3 4]}""",
    s"""{$ok,"input_ids":[1,2,3,4]"x":1}""",
    // a bad escape in a mistyped value fails inside its field, and the
    // parse resumes after it
    s"""{"image":["0"],"loss_mask":[1],"input_ids":"\\q ,"x":1}""",
    s"""{"image":["0"],"loss_mask":[1],"text":["\\q ,"x"],"input_ids":[1]}""",
    // malformed text: a bad escape, a raw control char, missing commas
    s"""{"image":["0"],"input_ids":[1],"loss_mask":[1],"text":["a\\qb"]}""",
    s"""{"image":["0"],"text":["a\\qb"],"input_ids":[1],"loss_mask":[1]}""",
    s"""{"image":["0"],"text":["a\u0001b"],"input_ids":[1],"loss_mask":[1]}""",
    s"""{"image":["0"],"text":["a" "b"],"input_ids":[1],"loss_mask":[1]}""",
    s"""{"image":["0"],"text":["a",],"input_ids":[1],"loss_mask":[1]}""",
    s"""{"image":["0"],"text":[{"a" 1}],"input_ids":[1],"loss_mask":[1]}""",
    // unknown fields of any shape are skipped
    s"""{"x":{"input_ids":[1,2]},$ok,"y":[[[{"z":null}]]],"input_ids":[1,2,3,4]}""",
    s"""{"x":"${"[" * 50}",$ok,"input_ids":[1,2,3,4]}""",
    s"""{"x":${"[" * 1200}${"]" * 1200},$ok,"input_ids":[1,2,3,4]}""",
    s"""{"x":1${"0" * 1200},$ok,"input_ids":[1,2,3,4]}""",
    // byte order mark, NUL bytes, escaped names, non-ASCII
    s"""\ufeff{$ok,"input_ids":[1,2,3,4]}""",
    "{\u0000\"\u0000i\u0000\"\u0000:\u0000[\u0000]\u0000}\u0000",
    s"""{$ok,"input\\u005fids":[32001,32002,3,4]}""",
    s"""{"image":["ü","中","😀"],"input_ids":[1],"loss_mask":[1],"text":["é"]}""",
    // the gate's own violations
    """{"image":["0"],"input_ids":[1,32001,32002],"loss_mask":[0,1],"text":["x"]}""",
    s"""{"image":["0","1"],"input_ids":[${Seq.fill(512)(32000).mkString(",")},32001],"loss_mask":[],"text":[]}""",
    s"""{"image":[],"input_ids":[${(0 until 8000).mkString(",")}],"loss_mask":[${Seq.fill(8000)(1).mkString(",")}],"text":[]}""",
    s"""{"input_ids":[],"loss_mask":[]}""",
    s"""{"image":null,"input_ids":[1],"loss_mask":null,"text":null}""",
    // boundary ints: the byte pass takes only -?(0|[1-9][0-9]*) inside
    // the Int range and leaves the rest to the Jackson path
    s"""{$ok,"input_ids":[2147483647,1,32001,32002]}""",
    s"""{$ok,"input_ids":[-2147483648,1,32001,32002]}""",
    s"""{$ok,"input_ids":[1,2,32001,2147483648]}""",
    s"""{$ok,"input_ids":[1,2,32001,-2147483649]}""",
    s"""{$ok,"input_ids":[1,99999999999,32001,32002]}""",
    s"""{$ok,"input_ids":[1,00,32001,32002]}""",
    s"""{$ok,"input_ids":[1,-0,32001,32002]}""",
    s"""{$ok,"input_ids":[1,-,32001,32002]}""",
    s"""{$ok,"input_ids":[1,- 1,32001,32002]}""",
    s"""{$ok,"input_ids":[1,1.0,32001,32002]}""",
    s"""{$ok,"input_ids":[1,1e3,32001,32002]}""",
    s"""{$ok,"input_ids":[1,1E3,32001,32002]}""",
    s"""{$ok,"input_ids":[1,12a,32001,32002]}""",
    s"""{$ok,"input_ids":[1,+1,32001,32002]}""",
    // every length up to the Int range's and one past it
    s"""{$ok,"input_ids":[${(1 to 10).map(k => "1234567890".take(k)).mkString(",")}]}""",
    s"""{$ok,"input_ids":[${(1 to 10).map("-" + "9" * _).mkString(",")},32001,32002]}""",
    s"""{$ok,"input_ids":[${(1 to 11).map("9" * _).mkString(",")}]}""",
    s"""{$ok,"input_ids":[320010,3200,-32001,32001,32002]}""",
    s"""{"image":["0"],"input_ids":[1,2],"loss_mask":[1,1.0],"text":[]}""",
    s"""{"image":["0"],"input_ids":[1,2],"loss_mask":[1,2147483648],"text":[]}""",
    // whitespace around every token, and whitespace Jackson refuses
    " \t\r\n{ \"image\" :\n[ \"0\" ,\t\"1\" ] ,\r\"input_ids\" : [ 32001 , 32002 ,\n-7 ] ," +
      " \"loss_mask\"\t:\t[\t1\t,\t0\t,\t1\t]\t,\"text\":[ ] } \r\n\t ",
    s"""{$ok,"input_ids":[1,\f2,3,4]}""",
    s"""{$ok,"input_ids":[1,2,3,4]}\u000b""",
    // trailing whitespace next to trailing text
    s"""{$ok,"input_ids":[1,2,3,4]} \n x""",
    s"""{$ok,"input_ids":[1,2,3,4]}x \n""",
    // escapes: a lone surrogate, a slash, every short form; raw DEL and
    // raw U+2028; a bad hex digit
    s"""{$ok,"input_ids":[1,2,3,4],"text":["a\\ud800b","\\/","\\"\\\\\\/\\b\\f\\n\\r\\t\\u00e9\\uD83D\\uDE00"]}""",
    "{\"image\":[\"del\u007f\",\"ls\u2028ps\u2029\"],\"input_ids\":[1],\"loss_mask\":[1],\"text\":[]}",
    s"""{$ok,"input_ids":[1,2,3,4],"text":["\\u00g0"]}""",
    s"""{$ok,"input_ids":[1,2,3,4],"text":["\\u00"]}""",
    // the edges of each UTF-8 length
    "{\"image\":[\"\u0080\u07ff\u0800\ud7ff\ue000\uffff\",\"\ud800\udc00\udbff\udfff\"]," +
      "\"input_ids\":[1],\"loss_mask\":[1],\"text\":[]}",
    // duplicate keys inside the subset, empty arrays, empty strings
    s"""{"image":["0"],"input_ids":[32001],"loss_mask":[1],"text":[],"input_ids":[32001,32002],"loss_mask":[1,1]}""",
    """{"image":[],"input_ids":[],"loss_mask":[],"text":[]}""",
    """{"image":["",""],"input_ids":[0],"loss_mask":[0],"text":[""]}""",
    // keys that are near the schema's
    s"""{$ok,"input_id":[1,2,3,4]}""",
    s"""{$ok,"input_idss":[1,2,3,4]}""",
    s"""{$ok,"":[1,2,3,4]}""",
    // structure the byte pass refuses
    s"""{$ok,"input_ids":[1,2,3,4],}""",
    s"""{$ok "input_ids":[1,2,3,4]}""",
    s"""{$ok,"input_ids":[1,2,3,4]]}""",
    s"""{$ok,"input_ids"[1,2,3,4]}""",
    s"""{$ok,"input_ids":[1,2,3,4]""")

  test("hostile json: every checked column equals the from_json spelling") {
    assertSameDocs(hostile)
  }

  test("hostile json under legacy size-of-null and empty-string settings") {
    withConf("spark.sql.ansi.enabled" -> "false",
        "spark.sql.legacy.sizeOfNull" -> "true") {
      assertSameDocs(hostile)
    }
    withConf("spark.sql.legacy.json.allowEmptyString.enabled" -> "true") {
      assertSameDocs(hostile)
    }
  }

  test("a missing json entry and a missing map: null struct, bad_parse") {
    val ds = spark.createDataset(Seq(
      Sample("000000", "mem", Map("jpg" -> Array[Byte](1))),
      Sample("000001", "mem", Map.empty[String, Array[Byte]])))
    assertSame(ds)
    assert(CheckStage.checked(ds).collect().forall(
      _.getAs[Boolean]("bad_parse")))
  }

  /** Bins as the tokenize stage writes them, with special ids mixed in
    * so every flag takes both values. */
  private def randomBins(seed: Long, n: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val special = Array(ImPatchId, ImStartId, ImEndId)
    (0 until n).map { i =>
      val nImg = rnd.nextInt(3)
      val len = rnd.nextInt(600)
      val ids = Seq.fill(len)(
        if (rnd.nextInt(4) == 0) special(rnd.nextInt(3))
        else rnd.nextInt(40000) - 100)
      val mask = Seq.fill(if (rnd.nextInt(5) == 0) len + 1 else len)(
        rnd.nextInt(2))
      val text = Seq.fill(rnd.nextInt(3))(
        rnd.alphanumeric.take(rnd.nextInt(20)).mkString + "\"\\ü\n")
      val p = TokenizeStage.Packed(s"k$i", (0 until nImg).map(_.toString),
        Seq.fill(nImg)(Array[Byte](1)), ids.toArray, mask.toArray, text)
      new String(TokenizeStage.toSampleGroup(p).entries("json"), UTF_8)
    }
  }

  test("seeded random bins in the tokenize stage's layout") {
    assertSameDocs(randomBins(7L, 300))
  }

  /** Seeded char-level mutations of random bins and hostile json. */
  private lazy val mutated: Seq[String] = {
    val rnd = new scala.util.Random(11L)
    val alphabet = "{}[],:\"'\\ 0123456789-.eEnulltrNaIfyx_"
    val bases = randomBins(13L, 60).map(_.take(400)) ++ hostile
    (0 until 800).map { _ =>
      val b = new StringBuilder(bases(rnd.nextInt(bases.length)))
      (0 until 1 + rnd.nextInt(3)).foreach { _ =>
        val at = if (b.isEmpty) 0 else rnd.nextInt(b.length)
        val c = alphabet(rnd.nextInt(alphabet.length))
        rnd.nextInt(3) match {
          case 0 if b.nonEmpty => b.deleteCharAt(at)
          case 1 => b.insert(at, c)
          case _ if b.nonEmpty => b.setCharAt(at, c)
          case _ => b.append(c)
        }
      }
      b.toString
    }
  }

  test("seeded mutations: dropped, inserted and replaced json chars") {
    assertSameDocs(mutated)
  }

  test("real tokenized tars: pack, tokenize, then check") {
    import spark.implicits._
    val packDir = Files.createTempDirectory("pjs_pack").toString
    val tokDir = Files.createTempDirectory("pjs_tok").toString
    val meta = (0 until 24)
      .map(i => (s"videos/v$i.mp4", s"caption $i " + ("word " * (i * 7))))
      .toDF("video_path", "value")
    val info = PackStage.run(meta, packDir,
      PackStage.PackOptions(numSegments = 3, samplesPerTar = 8))
    val packUrls = info.collect().map(_.getAs[String]("url")).toSeq.sorted
    val tokInfo = TokenizeStage.run(
      WdsReader.readUrls(spark, packUrls).coalesce(1), tokDir)
    val tokUrls = tokInfo.collect().map(_.getAs[String]("url")).toSeq
    val tokenized = WdsReader.readUrls(spark, tokUrls)
    assert(tokenized.count() > 0)
    assertSame(tokenized)
    // the kernel agrees with the codegen-free evaluation of itself
    val jsons = tokenized.collect().map(_.entries("json")).toSeq
    assert(interpreted(jsons) == codegen(jsons))
  }

  private def fields(r: InternalRow): Seq[Any] =
    if (r == null) null
    else (0 until r.numFields).map(i => if (r.isNullAt(i)) null else r.getInt(i))

  private def interpreted(docs: Seq[Array[Byte]]): Seq[Seq[Any]] =
    docs.map(d => fields(PackedJsonStats(Literal(d, BinaryType)).eval()
      .asInstanceOf[InternalRow]))

  private def codegen(docs: Seq[Array[Byte]]): Seq[Seq[Any]] =
    samples(docs).toDF()
      .select(col("key"),
        PackedJsonStats.stats(col("entries").getItem("json")).as("s"))
      .orderBy("key").collect().toSeq
      .map(r => if (r.isNullAt(1)) null else r.getStruct(1).toSeq)

  test("interpreted and codegen paths agree") {
    val docs = (hostile ++ randomBins(3L, 40)).map(_.getBytes(UTF_8))
    assert(interpreted(docs) == codegen(docs))
  }

  test("pinned readings: partial records, duplicates, trailing text") {
    def read(s: String) = interpreted(Seq(s.getBytes(UTF_8))).head
    val none = Seq.fill(6)(null)
    // (ids, mask, images, patch, start, end); a string element nulls
    // only its own field
    assert(read(s"""{$ok,"input_ids":[1,"2",32001,32002]}""") ==
      Seq(null, 4, 1, null, null, null))
    // null elements count toward size and match no id
    assert(read(s"""{$ok,"input_ids":[32001,null,32002,null]}""") ==
      Seq(4, 4, 1, 0, 1, 1))
    // the last duplicate wins; a failed later one keeps the earlier
    assert(read(s"""{$ok,"input_ids":[1],"input_ids":[32001,32002,3,4]}""") ==
      Seq(4, 4, 1, 0, 1, 1))
    assert(read(s"""{$ok,"input_ids":[32001,32002,3,4],"input_ids":[1,"x"]}""") ==
      Seq(4, 4, 1, 0, 1, 1))
    // text after the root object is ignored
    assert(read(s"""{$ok,"input_ids":[1,2,3,4]} trailing""") ==
      Seq(4, 4, 1, 0, 0, 0))
    // a truncated document or a top-level array nulls every field
    assert(read(s"""{$ok,"input_ids":[1,2""") == none)
    assert(read(s"""[{$ok,"input_ids":[1,2,3,4]}]""") == none)
    // an empty or blank entry is no record: a null struct
    assert(read("") == null && read(" \n") == null)
    // field names are case-sensitive
    assert(read(s"""{$ok,"Input_Ids":[1,2,3,4]}""") ==
      Seq(null, 4, 1, null, null, null))
    // NaN is a value under Spark's options
    assert(read("""{"image":[],"input_ids":[1],"loss_mask":[1],"text":[NaN]}""") ==
      Seq(1, 1, 0, 0, 0, 0))
  }

  /** `bytes` inside a text string of an otherwise canonical bin. */
  private def inText(bytes: Array[Byte]): Array[Byte] =
    """{"image":["0"],"input_ids":[32001,32002,1,2],"loss_mask":[0,1,1,1],"text":["a"""
      .getBytes(UTF_8) ++ bytes ++ "b\"]}".getBytes(UTF_8)

  /** Sequences the JDK decoder reports as malformed: overlong forms, a
    * surrogate, a code point above U+10FFFF, stray and missing
    * continuation bytes. */
  private val badUtf8: Seq[Array[Byte]] = Seq(
    Seq(0xc0, 0x80), Seq(0xc1, 0xbf), Seq(0xe0, 0x80, 0x80),
    Seq(0xe0, 0x9f, 0xbf), Seq(0xed, 0xa0, 0x80), Seq(0xed, 0xbf, 0xbf),
    Seq(0xf0, 0x8f, 0xbf, 0xbf), Seq(0xf4, 0x90, 0x80, 0x80),
    Seq(0xf5, 0x80, 0x80, 0x80), Seq(0xff), Seq(0x80), Seq(0xbf),
    Seq(0xc3), Seq(0xe2, 0x82), Seq(0xf0, 0x9f, 0x98), Seq(0xe2, 0x28, 0xa1))
    .map(_.map(_.toByte).toArray)

  private val good = s"""{$ok,"input_ids":[32001,32002,1,2]}""".getBytes(UTF_8)

  /** Entries that are not valid UTF-8, all but the first otherwise
    * well-formed. */
  private val invalid: Seq[Array[Byte]] = Seq(
    Array[Byte](0x7b, 0xff.toByte, 0x7d),
    good.take(6) ++ Array(0xc3.toByte) ++ good.drop(6),
    good ++ Array(0xe2.toByte, 0x82.toByte),
    good.take(20) ++ Array(0xed.toByte, 0xa0.toByte, 0x80.toByte) ++
      good.drop(20),
    good.take(20) ++ Array(0xc0.toByte, 0xaf.toByte) ++ good.drop(20)) ++
    badUtf8.map(inText)

  /** Entries that end inside a string, in a truncated sequence. */
  private val cut: Seq[Array[Byte]] = {
    val open = inText(Array.empty).dropRight("b\"]}".length)
    Seq(Seq(0xc3), Seq(0xe2, 0x82), Seq(0xf0, 0x9f, 0x98))
      .map(b => open ++ b.map(_.toByte))
  }

  test("invalid UTF-8 is an unparseable record, not a failed job") {
    val got = rows(CheckStage.checked(samples(good +: invalid)))
    assert(!got.head.getAs[Boolean]("bad_parse"))
    got.tail.foreach { r =>
      assert(r.getAs[Boolean]("bad_parse"), r)
      assert(r.isNullAt(r.fieldIndex("n_tokens")), r)
    }
    assert(interpreted(invalid ++ cut).forall(_ == Seq.fill(6)(null)))
  }

  private def jsonBytes(p: TokenizeStage.Packed): Array[Byte] =
    TokenizeStage.toSampleGroup(p).entries("json")

  test("the byte pass declines or gives the Jackson path's row") {
    val scanner = new PackedJsonScanner
    var accepted, declined = 0
    def check(d: Array[Byte]): Unit = {
      val fast = scanner.byteStats(d)
      if (fast == null) declined += 1
      else {
        accepted += 1
        val slow = scanner.jacksonStats(d)
        assert(fields(fast) == fields(slow),
          s"\n json: ${new String(d, UTF_8)}")
      }
    }
    // the spec's other corpora
    ((hostile ++ randomBins(7L, 300) ++ randomBins(3L, 40) ++ mutated)
      .map(_.getBytes(UTF_8)) ++ (good +: invalid) ++ cut).foreach(check)
    // byte-level mutations of canonical bins: structure, digits,
    // escapes, whitespace and UTF-8 lead and continuation bytes
    val rnd = new scala.util.Random(17L)
    val alphabet = ("{}[],:\"\\ \t\n\r\f0123456789-+.eEu/_abfnrtx".getBytes(UTF_8) ++
      Seq(0x00, 0x1f, 0x7f, 0x80, 0x8f, 0x90, 0x9f, 0xa0, 0xbf, 0xc0, 0xc2,
        0xdf, 0xe0, 0xed, 0xef, 0xf0, 0xf4, 0xf5, 0xff).map(_.toByte))
    val bases = (0 until 40).map { i =>
      jsonBytes(TokenizeStage.Packed(s"k$i", Seq.tabulate(i % 3)(_.toString),
        Nil, Array.fill(1 + rnd.nextInt(30))(rnd.nextInt(33000) - 10) ++
          Array(32000, 32001, 32002, Int.MinValue, Int.MaxValue),
        Array.fill(rnd.nextInt(30))(rnd.nextInt(2)),
        Seq.fill(1 + rnd.nextInt(2))(captions(rnd.nextInt(captions.length)))))
    }
    (0 until 6000).foreach { _ =>
      val b = bases(rnd.nextInt(bases.length)).toBuffer
      (0 until 1 + rnd.nextInt(3)).foreach { _ =>
        val at = rnd.nextInt(b.length + 1)
        val c = alphabet(rnd.nextInt(alphabet.length))
        rnd.nextInt(3) match {
          case 0 if at < b.length => b.remove(at)
          case 1 => b.insert(at, c)
          case _ if at < b.length => b(at) = c
          case _ => b.append(c)
        }
      }
      check(b.toArray)
    }
    // both readings are exercised on a real share of the inputs
    assert(accepted > 1000 && declined > 1000, (accepted, declined))
  }

  /** Captions with the characters the bin writer escapes or carries
    * through: quotes, backslashes, control characters, DEL, `/`,
    * non-ASCII, emoji, U+2028, lone surrogates (written as `?`). */
  private val captions: Seq[String] = Seq("the quick fox", "say \"hi\"",
    "back\\slash", "tab\there", "new\nline", "ctrl\u0001\u001f", "del\u007f",
    "slash/", "ünïcödé", "中文", "😀", "pair 𐀀", "lone \ud800", "\udc00low",
    "ls\u2028ps\u2029", "  ", "</s><s>", "<im_patch>", "", "\u0000",
    "a" * 300 + "é" + "b" * 17)

  test("every bin the tokenize stage writes takes the byte pass") {
    val scanner = new PackedJsonScanner
    val rnd = new scala.util.Random(23L)
    val extremes = Seq(Int.MinValue, Int.MaxValue, -1, 0, 32000, 32001, 32002,
      -2147483647, 1000000000, -999999999)
    val bins = randomBins(5L, 200).map(_.getBytes(UTF_8)) ++
      (0 until 200).map { i =>
        jsonBytes(TokenizeStage.Packed(s"k$i",
          Seq.fill(rnd.nextInt(3))(captions(rnd.nextInt(captions.length))),
          Nil,
          Array.fill(rnd.nextInt(50))(
            if (rnd.nextBoolean()) extremes(rnd.nextInt(extremes.length))
            else rnd.nextInt()),
          Array.fill(rnd.nextInt(50))(rnd.nextInt(3) - 1),
          Seq.fill(rnd.nextInt(4))(captions(rnd.nextInt(captions.length)) +
            captions(rnd.nextInt(captions.length)))))
      }
    bins.foreach { d =>
      val fast = scanner.byteStats(d)
      assert(fast != null, s"\n declined: ${new String(d, UTF_8)}")
      assert(fields(fast) == fields(scanner.jacksonStats(d)))
    }
  }
}
