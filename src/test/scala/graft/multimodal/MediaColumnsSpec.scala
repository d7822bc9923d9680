package graft.multimodal

import graft.SparkSpec
import graft.wds.Codecs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class MediaColumnsSpec extends SparkSpec {

  private def png(id: Long): Array[Byte] =
    Codecs.encodeImage(
      Codecs.ImageData(2, 2, 3, "RGB",
        Array.tabulate(12)(i => ((id + i) % 256).toByte)), "png")

  private lazy val media = {
    import spark.implicits._
    (0L until 10L).map(i => (i, "image", png(i), s"""{"id":$i}"""))
      .toDF("media_id", "kind", "content", "meta_json")
  }

  /** Legacy byte-stats fallback for non-WAV audio (the pre-decode
    * stub, kept for opaque codecs until the ffmpeg seam is wired). */
  private def audioFeaturesStub(df: DataFrame): DataFrame =
    df.select(col("media_id"),
      length(col("content")).cast("long").as("n_bytes"),
      // placeholder for real spectral features: deterministic byte crc
      crc32(col("content")).as("content_crc"))

  /** Pack media rows for training: metadata-only projection — asserts
    * the binary column is pruned from the scan (see spec). */
  private def mediaCatalog(df: DataFrame): DataFrame =
    df.groupBy(col("kind"))
      .agg(count(lit(1)).as("n"),
        sum(length(col("content"))).as("total_bytes"))
      .orderBy(col("kind"))

  test("imageFeatures decodes binary column to typed features") {
    val out = MediaColumns.imageFeatures(media).orderBy("media_id").collect()
    assert(out.length == 10)
    val r = out.head
    assert(r.getAs[Int]("height") == 2 && r.getAs[Int]("width") == 2)
    assert(r.getAs[Int]("nChannels") == 3)
    val luma = r.getAs[Double]("mean_luma")
    assert(luma == (0 until 12).sum.toDouble / 12)
  }

  test("sampleFrames fans one video row out to n deterministic frames") {
    import spark.implicits._
    val vids = Seq((1L, "video", "fakevideobytes".getBytes, "{}"))
      .toDF("media_id", "kind", "content", "meta_json")
    val frames = MediaColumns.sampleFrames(vids, numSegments = 6).collect()
    assert(frames.length == 6)
    assert(frames.map(_.getAs[Int]("frame_no")).toSeq == (0 until 6))
    val idxs = frames.map(_.getAs[Int]("frame_index")).toSeq
    assert(idxs == idxs.sorted && idxs.distinct.size == 6)
    // frames decode back and encode their frame index in pixel 0
    val f0 = Codecs.decodeImage(frames.head.getAs[Array[Byte]]("frame"))
    assert((f0.data(0) & 0xff) == idxs.head % 256)
  }

  test("metadata-only plans prune the binary column from the parquet scan") {
    val dir = java.nio.file.Files.createTempDirectory("media").toString
    media.write.mode("overwrite").parquet(dir)
    val cat = mediaCatalog(
      spark.read.parquet(dir).select(col("media_id"), col("kind"),
        col("content"), col("meta_json")))
    // total_bytes needs content length; catalog on kinds-only must not:
    val kindCount = spark.read.parquet(dir).groupBy("kind").count()
    val plan = kindCount.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema") && !plan.contains("content"),
      s"binary column not pruned:\n$plan")
    // and the full catalog still computes
    assert(cat.collect().head.getAs[Long]("n") == 10)
  }

  test("audio stub keeps deterministic plumbing") {
    val out = audioFeaturesStub(media).collect()
    assert(out.length == 10)
    assert(out.forall(_.getAs[Long]("n_bytes") > 0))
  }

  test("sceneCuts flags exactly the frame-content jumps") {
    import spark.implicits._
    // 6 frames of 1x1 gray: scenes [0,0,0],[1,1,1] at value 10 vs 200
    val frames = (0 until 6).map { f =>
      Codecs.encodeImage(Codecs.ImageData(1, 1, 1, "L",
        Array((if (f < 3) 10 else 200).toByte)), "png")
    }
    val mp4 = Mp4Samples.encodeFrames(frames, codec = "png ", fps = 5,
      width = 1, height = 1, syncEvery = 3)
    val df = Seq((1L, mp4)).toDF("media_id", "content")
    val r = MediaColumns.sceneCuts(df, graft.pack.FrameSource.Mp4Frames,
      threshold = 30).collect().head
    assert(r.getAs[Int]("n_frames") == 6)
    assert(r.getAs[Int]("n_cuts") == 1)
    assert(r.getAs[Long]("sad_total") == 190L)
    assert(r.getAs[Int]("first_cut") == 3)
  }

  test("sceneCuts scores a frame-geometry change as a full cut") {
    import spark.implicits._
    // same gray value but 1x1 -> 2x2: content-prefix SAD is 0, the
    // geometry delta must still trip the threshold
    val f1 = Codecs.encodeImage(
      Codecs.ImageData(1, 1, 1, "L", Array(50.toByte)), "png")
    val f2 = Codecs.encodeImage(
      Codecs.ImageData(2, 2, 1, "L", Array.fill(4)(50.toByte)), "png")
    val mp4 = Mp4Samples.encodeFrames(Seq(f1, f2), codec = "png ", fps = 5,
      width = 2, height = 2, syncEvery = 2)
    val df = Seq((1L, mp4)).toDF("media_id", "content")
    val r = MediaColumns.sceneCuts(df, graft.pack.FrameSource.Mp4Frames,
      threshold = 30).collect().head
    assert(r.getAs[Int]("n_cuts") == 1)
    assert(r.getAs[Long]("sad_total") == 255L * 3)
  }

  test("gopStats reads cadence and sizes from the sample table, no decode") {
    import spark.implicits._
    // 5 opaque samples of sizes 10,20,30,40,50; keyframe every 2
    val frames = Seq(10, 20, 30, 40, 50).map(new Array[Byte](_))
    val mp4 = Mp4Samples.encodeFrames(frames, codec = "gop ", fps = 10,
      width = 8, height = 8, syncEvery = 2)
    val df = Seq((3L, mp4)).toDF("media_id", "content")
    val r = MediaColumns.gopStats(df).collect().head
    assert(r.getAs[Int]("n_samples") == 5)
    assert(r.getAs[Int]("n_key") == 3) // frames 0,2,4
    assert(r.getAs[Long]("total_bytes") == 150L)
    assert(r.getAs[Int]("max_bytes") == 50)
    assert(r.getAs[Double]("gop_raw") == 5.0 / 3)
  }

  test("patchify fans a 4x4 image into 2x2 patches with correct bytes") {
    import spark.implicits._
    val img = Codecs.ImageData(4, 4, 1, "L",
      Array.tabulate(16)(i => i.toByte))
    val df = Seq((7L, Codecs.encodeImage(img, "png")))
      .toDF("media_id", "content")
    val rows = MediaColumns.patchify(df, 2)
      .orderBy("patch_row", "patch_col").collect()
    assert(rows.length == 4)
    val p00 = rows(0).getAs[Array[Byte]]("patch").toSeq
    assert(p00 == Seq[Byte](0, 1, 4, 5))
    val p11 = rows(3).getAs[Array[Byte]]("patch").toSeq
    assert(p11 == Seq[Byte](10, 11, 14, 15))
    // partial edge patches are dropped (floor count)
    val odd = Seq((8L, Codecs.encodeImage(
      Codecs.ImageData(5, 5, 1, "L", Array.tabulate(25)(_.toByte)), "png")))
      .toDF("media_id", "content")
    assert(MediaColumns.patchify(odd, 2).count() == 4)
  }

  test("silenceSegments finds runs with threshold and minRun semantics") {
    import spark.implicits._
    // 20 samples: loud(5) silent(6) loud(4) silent(5 at tail)
    val s = (Array.fill(5)(5000.toShort) ++ Array.fill(6)(3.toShort) ++
      Array.fill(4)(-5000.toShort) ++ Array.fill(5)(0.toShort))
    val wav = WavCodec.encode(WavCodec.Wav(8000, 1, s))
    val df = Seq((1L, wav)).toDF("media_id", "content")
    val r = MediaColumns.silenceSegments(df, threshold = 100, minRun = 5)
      .collect().head
    assert(r.getAs[Int]("n_samples") == 20)
    assert(r.getAs[Int]("n_silent") == 11)
    assert(r.getAs[Int]("n_segments") == 2)
    assert(r.getAs[Int]("first_start") == 5)
    // minRun = 6 drops the 5-sample tail run
    val r6 = MediaColumns.silenceSegments(df, threshold = 100, minRun = 6)
      .collect().head
    assert(r6.getAs[Int]("n_segments") == 1)
  }

  test("pitchTrack: argmax lag equals the period, ties break low, " +
    "stereo reads channel 0") {
    import spark.implicits._
    // perfect period-8 sawtooth: R(8) is the global max in band 4..12
    val mono = Array.tabulate(160)(i => ((i % 8) * 100 - 350).toShort)
    val df = Seq((1L, WavCodec.encode(WavCodec.Wav(8000, 1, mono))))
      .toDF("media_id", "content")
    val r = MediaColumns.pitchTrack(df, 4, 12).collect().head
    assert(r.getAs[Int]("best_lag") == 8)
    assert(r.getAs[Long]("r_zero") > r.getAs[Long]("r_best"))
    // genuine tie: impulses 2,1,2 at indices 0,5,10 give
    // R(5) = 2·1 + 1·2 = 4 = 2·2 = R(10), every other band lag 0 —
    // the tie must break to the SMALLEST lag (strict > in the scan)
    val tie = new Array[Short](11)
    tie(0) = 2; tie(5) = 1; tie(10) = 2
    val dfTie = Seq((2L, WavCodec.encode(WavCodec.Wav(8000, 1, tie))))
      .toDF("media_id", "content")
    val rTie = MediaColumns.pitchTrack(dfTie, 4, 10).collect().head
    assert(rTie.getAs[Long]("r_best") == 4L)
    assert(rTie.getAs[Int]("best_lag") == 5)
    // stereo: channel 0 carries the period-8 tone, channel 1 noise —
    // the estimator must read only channel 0 (frame stride)
    val stereo = new Array[Short](mono.length * 2)
    mono.indices.foreach { i =>
      stereo(2 * i) = mono(i)
      stereo(2 * i + 1) = ((i * 7919) % 1201 - 600).toShort
    }
    val dfSt = Seq((3L, WavCodec.encode(WavCodec.Wav(8000, 2, stereo))))
      .toDF("media_id", "content")
    val rSt = MediaColumns.pitchTrack(dfSt, 4, 12).collect().head
    assert(rSt.getAs[Int]("best_lag") == 8)
    assert(rSt.getAs[Long]("r_zero") == r.getAs[Long]("r_zero"))
  }

  test("resizeNearest identity returns the same pixels") {
    val img = Codecs.ImageData(3, 4, 3, "RGB",
      Array.tabulate(36)(i => (i * 7 % 251).toByte))
    val out = Codecs.resizeNearest(img, 4, 3)
    assert(out.data.toSeq == img.data.toSeq)
    assert(out.height == 3 && out.width == 4 && out.nChannels == 3)
  }

  test("resizeNearest 2x upscale duplicates each source pixel into a 2x2 block") {
    val img = Codecs.ImageData(2, 2, 1, "L", Array[Byte](10, 20, 30, 40))
    val out = Codecs.resizeNearest(img, 4, 4)
    // sx = x*2/4 = x/2, sy = y/2 — each source pixel fills a 2x2 block
    assert(out.data.toSeq == Seq[Byte](
      10, 10, 20, 20,
      10, 10, 20, 20,
      30, 30, 40, 40,
      30, 30, 40, 40))
  }

  test("resizeNearest downscale picks floor-mapped source pixels") {
    // 4x1 -> 2x1: sx = x*4/2 = 2x -> picks pixels 0 and 2
    val img = Codecs.ImageData(1, 4, 1, "L", Array[Byte](1, 2, 3, 4))
    val out = Codecs.resizeNearest(img, 2, 1)
    assert(out.data.toSeq == Seq[Byte](1, 3))
  }

  test("resizeNearest matches the integer replay formula on odd geometry") {
    val (h, w, dh, dw) = (5, 7, 3, 4)
    val img = Codecs.ImageData(h, w, 3, "RGB",
      Array.tabulate(h * w * 3)(i => (i * 13 % 251).toByte))
    val out = Codecs.resizeNearest(img, dw, dh)
    for (y <- 0 until dh; x <- 0 until dw; c <- 0 until 3) {
      val (sy, sx) = (y * h / dh, x * w / dw)
      assert((out.data((y * dw + x) * 3 + c) & 0xff) ==
        (img.data((sy * w + sx) * 3 + c) & 0xff))
    }
  }
}
