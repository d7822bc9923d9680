package graft.multimodal.h264

import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.Mp4Samples
import graft.pack.FrameSource

/** Round-9 H.264 structural features: explicit weighted biprediction
  * (8.4.2.3.2), implicit POC-derived biprediction (8.4.2.3.1),
  * ref_pic_list_modification (8.2.4.3), and MMCO adaptive reference
  * marking incl. long-term pictures (8.2.5.4). Each fixture decodes
  * through the REAL container walk (Mp4Frames) and is pinned to the
  * closed-form sums its DuckDB oracle replays. */
class H264AdvancedSpec extends AnyFunSuite {

  private def clip(v: Int): Int = math.max(0, math.min(255, v))

  /** expected per-channel RGB sums of a uniform 16x16 frame whose
    * plane sums are (ySum, cbSum, crSum) — the decoder's BT.601 */
  private def rgbSums(planes: (Long, Long, Long)): (Long, Long, Long) = {
    val yv = (planes._1 / 256).toInt
    val u = (planes._2 / 64).toInt - 128
    val v = (planes._3 / 64).toInt - 128
    val r = clip(yv + ((91881 * v + 32768) >> 16))
    val g = clip(yv - ((22554 * u + 46802 * v + 32768) >> 16))
    val b = clip(yv + ((116130 * u + 32768) >> 16))
    (256L * r, 256L * g, 256L * b)
  }

  private def channelSums(mp4: Array[Byte], f: Int): (Long, Long, Long) = {
    val img = graft.wds.Codecs.decodeImage(FrameSource.Mp4Frames.frame(mp4, f))
    var rs = 0L; var gs = 0L; var bs = 0L
    var i = 0
    while (i < img.data.length) {
      rs += img.data(i) & 0xff
      gs += img.data(i + 1) & 0xff
      bs += img.data(i + 2) & 0xff
      i += 3
    }
    (rs, gs, bs)
  }

  test("videoWeightedB: explicit bipred weights on both lists, all 3 channels") {
    for (d <- 0L until 12L) {
      val n = 9 + 3 * (d % 3).toInt
      val mp4 = H264Fixtures.videoWeightedB(d, n)
      for (f <- 0 until n) {
        val got = channelSums(mp4, f)
        val want = rgbSums(H264FixtureSums.expectedSumsWeightedB(d, f))
        assert(got == want, s"doc=$d display=$f")
      }
    }
  }

  test("videoWeightedB discriminates: weighted B != default average for most docs") {
    // the gate would pass vacuously if every doc's weights degenerated
    // to the 32/32 average — prove the weighted bi frame differs
    val diffs = (0L until 12L).count { d =>
      val ia = H264FixtureSums.expectedSumsWeightedB(d, 0)._1 / 256
      val vb = H264FixtureSums.expectedSumsWeightedB(d, 2)._1 / 256
      val weighted = H264FixtureSums.expectedSumsWeightedB(d, 1)._1 / 256
      weighted != (ia + vb + 1) / 2
    }
    assert(diffs > 8)
  }

  test("videoImplicitB: POC-derived implicit weights (w0 43, w1 21)") {
    for (d <- 0L until 12L) {
      val n = 9 + 3 * (d % 3).toInt
      val mp4 = H264Fixtures.videoImplicitB(d, n)
      for (f <- 0 until n) {
        val got = channelSums(mp4, f)
        val want = rgbSums(H264FixtureSums.expectedSumsImplicitB(d, f))
        assert(got == want, s"doc=$d display=$f")
      }
    }
  }

  test("implicit weights degrade to 32/32 on POC tie and long-term refs") {
    // direct engine-level checks through a crafted bi-pred decode are
    // covered by the fixture; here pin the midpoint law: poc-centered
    // B (videoB layout, idc 2) would weight 32/32 == the average
    // (tb=2, td=4 -> tx 4096, dsf 128 -> w1 32)
    val td = 4; val tb = 2
    val tx = (16384 + math.abs(td / 2)) / td
    val dsf = math.max(-1024, math.min(1023, (tb * tx + 32) >> 6))
    assert(dsf >> 2 == 32)
  }

  test("videoModList: ref_pic_list_modification reorders list 0") {
    for (d <- 0L until 12L) {
      val n = 8 + 4 * (d % 2).toInt
      val mp4 = H264Fixtures.videoModList(d, n)
      for (f <- 0 until n) {
        val got = channelSums(mp4, f)
        val want = rgbSums(H264FixtureSums.expectedSumsModList(d, f))
        assert(got == want, s"doc=$d f=$f")
      }
    }
  }

  test("videoModList discriminates: modified head differs from initialized head") {
    // g2 copies the IDR (ia) via PicNum 0; the initialized head is the
    // PCM P1 (vb). If ia == vb for every doc the gate is vacuous.
    val diffs = (0L until 12L).count { d =>
      H264FixtureSums.expectedSumsModList(d, 2)._1 !=
        H264FixtureSums.expectedSumsModList(d, 1)._1
    }
    assert(diffs > 8)
  }

  test("videoMmco: op 1 unmark / op 3 long-term / op 5 reset by d%3") {
    for (d <- 0L until 12L) {
      val n = 10 + 5 * (d % 2).toInt
      val mp4 = H264Fixtures.videoMmco(d, n)
      for (f <- 0 until n) {
        val got = channelSums(mp4, f)
        val want = rgbSums(H264FixtureSums.expectedSumsMmco(d, f))
        assert(got == want, s"doc=$d f=$f (variant ${d % 3})")
      }
    }
  }

  test("videoMmco random access: backward jumps rebuild MMCO/long-term DPB state") {
    // the walk caches (shortRefs, longRefs, poc state) incrementally;
    // a backward display jump must rebuild marking state from the
    // sync sample, not reuse a stale post-reset or long-term DPB
    for (d <- Seq(0L, 1L, 2L)) { // one doc per MMCO variant
      val n = 15
      val mp4 = H264Fixtures.videoMmco(d, n)
      for (f <- Seq(9, 3, 4, 13, 0, 7, 14, 1, 12, 2)) {
        val got = channelSums(mp4, f)
        val want = rgbSums(H264FixtureSums.expectedSumsMmco(d, f))
        assert(got == want, s"doc=$d f=$f (variant ${d % 3})")
      }
    }
  }

  test("videoMmco discriminates: MMCO target differs from the sliding-window pick") {
    // g3 reads ref_idx 1: MMCO resolves it to the IDR (ia); a pure
    // sliding window resolves it to P1 (vb1)
    val diffs = (0L until 12L).count { d =>
      H264FixtureSums.expectedSumsMmco(d, 3)._1 !=
        H264FixtureSums.expectedSumsMmco(d, 1)._1
    }
    assert(diffs > 8)
  }

  test("decoder-level applyMod: P slice with modification picks by PicNum") {
    val qp = 24
    val sps = Encoder.spsFor(16, 16, numRefFrames = 2)
    val pps = Encoder.ppsFor(qp)
    val cfg = Decoder.AvcConfig(sps, pps, 4)
    // two uniform references at PicNum 0 and 1; current frame_num 2
    def flat(v: Int): Decoder.Yuv = {
      val y = Array.fill(256)(v)
      val c = Array.fill(64)(128)
      Decoder.Yuv(16, 16, 1, 1, y, c.clone(), c.clone())
    }
    val r0 = flat(40).copy(frameNum = 0)
    val r1 = flat(200).copy(frameNum = 1)
    val w = new BitWriter
    // 1 active ref; modification pulls PicNum 0 (abs_diff 2 below
    // CurrPicNum 2) to the head — without it the head is r1 (PicNum 1)
    Encoder.writePSliceHeader(w, sps, 2, sliceQpDelta = 0,
      deblock = false, modL0 = Seq((0, 1)))
    w.ue(0) // mb_skip_run
    w.ue(0) // P_L0_16x16
    w.se(0); w.se(0)
    w.ue(Decoder.codeNumFromCbpInter(0))
    val out = Decoder.decode(Encoder.avccSampleP(w), cfg,
      Vector(r1, r0)) // init order: most recent (PicNum 1) first
    assert(out.y.take(256).forall(_ == 40), "modification must pick PicNum 0")
  }

  test("modification without frameNum-stamped DPB is a typed failure") {
    val qp = 24
    val sps = Encoder.spsFor(16, 16, numRefFrames = 2)
    val cfg = Decoder.AvcConfig(sps, Encoder.ppsFor(qp), 4)
    def flat(v: Int): Decoder.Yuv = {
      val y = Array.fill(256)(v)
      val c = Array.fill(64)(128)
      Decoder.Yuv(16, 16, 1, 1, y, c.clone(), c.clone())
    }
    val w = new BitWriter
    Encoder.writePSliceHeader(w, sps, 2, sliceQpDelta = 0,
      deblock = false, modL0 = Seq((0, 1)))
    w.ue(0); w.ue(0); w.se(0); w.se(0)
    w.ue(Decoder.codeNumFromCbpInter(0))
    intercept[IllegalArgumentException] {
      Decoder.decode(Encoder.avccSampleP(w), cfg, Vector(flat(40)))
    }
  }

  test("MMCO ops are parsed and surfaced on the decoded picture") {
    val qp = 24
    val sps = Encoder.spsFor(16, 16, numRefFrames = 3)
    val cfg = Decoder.AvcConfig(sps, Encoder.ppsFor(qp), 4)
    def flat(v: Int): Decoder.Yuv = {
      val y = Array.fill(256)(v)
      val c = Array.fill(64)(128)
      Decoder.Yuv(16, 16, 1, 1, y, c.clone(), c.clone(), frameNum = 0)
    }
    val w = new BitWriter
    Encoder.writePSliceHeader(w, sps, 1, sliceQpDelta = 0,
      deblock = false, mmco = Seq((1, 0, 0), (3, 1, 2)))
    w.ue(1) // whole picture P_Skip
    val out = Decoder.decode(Encoder.avccSampleP(w), cfg, Vector(flat(40)))
    assert(out.mmco == List((1, 0, 0), (3, 1, 2)))
    assert(out.frameNum == 1)
  }

  test("MMCO op 5 resets the DPB and re-bases frame_num for later PicNum math") {
    val d = 2L
    val qp = H264Fixtures.qpFor(d)
    val sps = Encoder.spsFor(16, 16, numRefFrames = 3)
    val pps = Encoder.ppsFor(qp)
    // IDR(100); P1 PCM(200) with op 5; P2 (stream fn 1, post-reset)
    // pulling PicNum 0 via modification — the REBASED P1, not the IDR
    val idr = {
      val w = new BitWriter
      Encoder.writeSliceHeader(w, sps, 0, 0, deblock = true)
      w.ue(25); w.alignZero()
      (0 until 256).foreach(_ => w.u(8, 100))
      (0 until 128).foreach(_ => w.u(8, 128))
      Encoder.avccSample(w)
    }
    val p1 = {
      val w = new BitWriter
      Encoder.writePSliceHeader(w, sps, 1, 0, deblock = true,
        mmco = Seq((5, 0, 0)))
      w.ue(0); w.ue(30); w.alignZero()
      (0 until 256).foreach(_ => w.u(8, 200))
      (0 until 128).foreach(_ => w.u(8, 128))
      Encoder.avccSampleP(w)
    }
    val p2 = {
      val w = new BitWriter
      Encoder.writePSliceHeader(w, sps, 1, 0, deblock = true,
        pocLsbOverride = 2, modL0 = Seq((0, 0)))
      w.ue(0); w.ue(0) // P_L0_16x16, ref_idx absent (1 active)
      w.se(0); w.se(0)
      w.ue(Decoder.codeNumFromCbpInter(0))
      Encoder.avccSampleP(w)
    }
    val mp4 = Mp4Samples.encodeFrames(Seq(idr, p1, p2), codec = "avc1",
      fps = 10, width = 16, height = 16, syncEvery = 3,
      sampleEntryExtension = Encoder.avccBox(sps, pps))
    val (rs, _, _) = {
      val img = graft.wds.Codecs.decodeImage(FrameSource.Mp4Frames.frame(mp4, 2))
      var s = 0L
      var i = 0
      while (i < img.data.length) { s += img.data(i) & 0xff; i += 3 }
      (s, 0L, 0L)
    }
    // p2 must copy the rebased P1 (200), not the unmarked IDR (100)
    assert(rs == 256L * 200)
  }
}
