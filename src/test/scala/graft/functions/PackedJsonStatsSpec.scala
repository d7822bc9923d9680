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
    s"""{"image":null,"input_ids":[1],"loss_mask":null,"text":null}""")

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

  test("seeded mutations: dropped, inserted and replaced json chars") {
    val rnd = new scala.util.Random(11L)
    val alphabet = "{}[],:\"'\\ 0123456789-.eEnulltrNaIfyx_"
    val bases = randomBins(13L, 60).map(_.take(400)) ++ hostile
    val mutated = (0 until 800).map { _ =>
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

  test("invalid UTF-8 is an unparseable record, not a failed job") {
    val good = s"""{$ok,"input_ids":[32001,32002,1,2]}""".getBytes(UTF_8)
    val bad = Seq(
      Array[Byte](0x7b, 0xff.toByte, 0x7d),
      good.take(6) ++ Array(0xc3.toByte) ++ good.drop(6),
      good ++ Array(0xe2.toByte, 0x82.toByte),
      good.take(20) ++ Array(0xed.toByte, 0xa0.toByte, 0x80.toByte) ++
        good.drop(20),
      good.take(20) ++ Array(0xc0.toByte, 0xaf.toByte) ++ good.drop(20))
    val got = rows(CheckStage.checked(samples(good +: bad)))
    assert(!got.head.getAs[Boolean]("bad_parse"))
    got.tail.foreach { r =>
      assert(r.getAs[Boolean]("bad_parse"), r)
      assert(r.isNullAt(r.fieldIndex("n_tokens")), r)
    }
    assert(interpreted(bad).forall(_ == Seq.fill(6)(null)))
  }
}
