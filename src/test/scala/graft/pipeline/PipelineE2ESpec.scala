package graft.pipeline

import java.nio.file.Files

import graft.SparkSpec
import graft.index.CheckStage
import graft.pack.PackStage
import graft.tokenize.TokenizeStage
import graft.wds.{TarIO, WdsReader}
import org.apache.spark.sql.functions._

/** The minimum end-to-end slice (SURVEY.md §7.2), full circle:
  * E1 pack (metadata → pair shards) → E2 tokenize (shards → 8k-packed
  * shards) → E3 check (invariants + index). Zero native deps — synthetic
  * frames, deterministic word-hash tokenizer. */
class PipelineE2ESpec extends SparkSpec {

  test("E1→E2→E3: pack, tokenize, check round-trip") {
    import spark.implicits._
    val packDir = Files.createTempDirectory("e1").toString
    val tokDir = Files.createTempDirectory("e2").toString

    // E1: 30 videos with captions → uniform-sampled pair shards
    val meta = (0 until 30)
      .map(i => (s"videos/v$i.mp4", s"caption number $i with words"))
      .toDF("video_path", "value")
    val packInfo = PackStage.run(meta, packDir,
      PackStage.PackOptions(numSegments = 4, samplesPerTar = 10))
    val shards = packInfo.collect().map(_.getAs[String]("url")).toSeq.sorted
    assert(packInfo.agg(sum("nsamples")).head().getLong(0) == 30)

    // read back: interleave grouping must reassemble 1 json + 4 frames
    val packed = WdsReader.readUrls(spark, shards)
    val samples = packed.collect().sortBy(_.key)
    assert(samples.length == 30)
    assert(samples.head.entries.keySet ==
      Set("json", "0.jpg", "1.jpg", "2.jpg", "3.jpg"))

    // E2: tokenize + greedy-pack (single partition = one merge group)
    val tokInfo = TokenizeStage.run(packed.coalesce(1), tokDir)
    val tokShards = tokInfo.collect().map(_.getAs[String]("url")).toSeq
    assert(tokShards.nonEmpty)

    // E3: invariants hold, index counts match
    val tokenized = WdsReader.readUrls(spark, tokShards)
    val idx = CheckStage.index(tokenized, strict = true)
    val total = idx.agg(sum("nsamples")).head().getLong(0)
    assert(total > 0)
    // every merged pack stays under the cap and pairs ids/mask
    val checked = CheckStage.checked(tokenized).collect()
    assert(checked.forall(r => !r.getAs[Boolean]("bad_mask_len")))
    assert(checked.forall(r => !r.getAs[Boolean]("bad_token_len")))
    assert(checked.forall(r => !r.getAs[Boolean]("bad_start_end")))
    assert(checked.forall(r => !r.getAs[Boolean]("bad_patch_count")))
    // images present: each pack carries its renumbered jpg entries
    val t0 = tokenized.collect().head
    val nImg = t0.entries.keySet.count(_.endsWith(".jpg"))
    assert(nImg > 0)

    // inspection dump runs
    assert(CheckStage.inspectionSample(tokenized, frac = 1.0).count() ==
      tokenized.count())
  }

  test("E3 flags violated invariants") {
    import spark.implicits._
    val bad = spark.createDataset(Seq(
      graft.wds.Sample("0-0", "mem", Map(
        "json" -> TarIO.utf8(
          """{"image":["0"],"input_ids":[1,32001,32002],""" +
            """"loss_mask":[0,1],"text":["x"]}""")))))(
      org.apache.spark.sql.Encoders.product[graft.wds.Sample])
    val flags = CheckStage.checked(bad).collect().head
    assert(flags.getAs[Boolean]("bad_mask_len")) // 3 ids vs 2 mask
    assert(flags.getAs[Boolean]("bad_patch_count")) // 0 patches vs 256
    assertThrows[IllegalArgumentException](
      CheckStage.index(bad, strict = true).collect())
  }

  test("E3 rejects unparseable/missing json (null flags can't slip by)") {
    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.product[graft.wds.Sample]
    // missing json entry entirely
    val noJson = spark.createDataset(Seq(
      graft.wds.Sample("0-0", "mem", Map(
        "jpg" -> Array[Byte](1, 2, 3)))))
    assert(CheckStage.checked(noJson).collect().head
      .getAs[Boolean]("bad_parse"))
    assertThrows[IllegalArgumentException](
      CheckStage.index(noJson, strict = true).collect())
    // present but malformed json
    val malformed = spark.createDataset(Seq(
      graft.wds.Sample("0-1", "mem", Map(
        "json" -> TarIO.utf8("{not json")))))
    assertThrows[IllegalArgumentException](
      CheckStage.index(malformed, strict = true).collect())
  }

  test("E3: a json entry that is not valid UTF-8 is a bad_parse " +
    "violation, not a failed job") {
    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.product[graft.wds.Sample]
    val good = TarIO.utf8(
      """{"image":[],"input_ids":[1,32001,32002],""" +
        """"loss_mask":[0,1,1],"text":["x"]}""")
    val invalid = good.take(12) ++ Array(0xff.toByte) ++ good.drop(12)
    val shards = spark.createDataset(Seq(
      graft.wds.Sample("0-0", "mem", Map("json" -> good)),
      graft.wds.Sample("0-1", "mem", Map("json" -> invalid))))
    val e = intercept[IllegalArgumentException](
      CheckStage.index(shards, strict = true))
    assert(e.getMessage.contains("1 samples violate"), e.getMessage)
    // --lenient: the index still counts the sample
    val idx = CheckStage.index(shards, strict = false).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(idx == Seq(("mem", 2L)))
    // the inspection dump reads it too
    assert(CheckStage.inspectionSample(shards, frac = 1.0).count() == 2)
  }
}
