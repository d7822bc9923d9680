package graft.multimodal.h264

import graft.multimodal.Mp4Samples
import org.scalatest.funsuite.AnyFunSuite

/** Explicit weighted prediction (pred_weight_table, 7.3.3.2 +
  * 8.4.2.3.2): the P-slice fade tool. Pins the parse (flag layout,
  * per-ref entries), the integer apply (rounding at logWD >= 1, the
  * logWD == 0 degenerate, clipping), interaction with P_Skip and with
  * multi-reference ref_idx, and the closed-form fixture the mm19 gate
  * replays. */
class H264WeightedSpec extends AnyFunSuite {

  private def cfgW(qp: Int, sps: Sps) =
    Decoder.AvcConfig(sps, Encoder.ppsFor(qp, weightedPred = true), 4)

  /** a 16x16 uniform reference picture */
  private def uniformRef(v: Int, cv: Int = 128): Decoder.Yuv =
    Decoder.Yuv(16, 16, 1, 1, Array.fill(256)(v), Array.fill(64)(cv),
      Array.fill(64)(cv))

  /** one weighted P_L0_16x16 copy sample at mv (0,0), cbp 0 */
  private def weightedCopy(sps: Sps, ws: Encoder.WeightSpec,
      numRefs: Int = 1, refIdx: Int = 0): Array[Byte] = {
    val w = new BitWriter
    Encoder.writePSliceHeader(w, sps, 1, 0, deblock = true,
      numRefs = numRefs, weights = Some(ws))
    w.ue(0) // mb_skip_run
    w.ue(0) // mb_type P_L0_16x16
    if (numRefs > 1) Encoder.writeRefIdx(w, numRefs, refIdx)
    w.se(0); w.se(0)
    w.ue(Decoder.codeNumFromCbpInter(0))
    Encoder.avccSampleP(w)
  }

  test("luma weight with logWD rounding matches the spec formula") {
    val sps = Encoder.spsFor(16, 16)
    val ref = uniformRef(100)
    // w = 48, o = -7 at logWD 5: (100*48 + 16) >> 5 - 7 = 143
    val ws = Encoder.WeightSpec(5, 6, Seq(Some((48, -7))), Seq(None))
    val out = Decoder.decode(weightedCopy(sps, ws), cfgW(26, sps),
      Vector(ref))
    assert(out.y.forall(_ == ((100 * 48 + 16) >> 5) - 7))
    assert(out.cb.forall(_ == 128) && out.cr.forall(_ == 128))
  }

  test("logWD 0 degenerates to v*w + o; results clip to 0..255") {
    val sps = Encoder.spsFor(16, 16)
    val ref = uniformRef(100)
    // pure offset fade at logWD 0 (w = 1)
    val up = Encoder.WeightSpec(0, 0, Seq(Some((1, 17))), Seq(None))
    val o1 = Decoder.decode(weightedCopy(sps, up), cfgW(26, sps), Vector(ref))
    assert(o1.y.forall(_ == 117))
    // w = 3 overflows: 300 clips to 255
    val ov = Encoder.WeightSpec(0, 0, Seq(Some((3, 0))), Seq(None))
    val o2 = Decoder.decode(weightedCopy(sps, ov), cfgW(26, sps), Vector(ref))
    assert(o2.y.forall(_ == 255))
    // negative territory clips to 0
    val neg = Encoder.WeightSpec(0, 0, Seq(Some((1, -120))), Seq(None))
    val o3 = Decoder.decode(weightedCopy(sps, neg), cfgW(26, sps), Vector(ref))
    assert(o3.y.forall(_ == 0))
  }

  test("chroma weights apply the chroma denom, not the luma one") {
    val sps = Encoder.spsFor(16, 16)
    val ref = uniformRef(100, cv = 120)
    val ws = Encoder.WeightSpec(5, 6, Seq(None),
      Seq(Some((80, 3, 48, -9))))
    val out = Decoder.decode(weightedCopy(sps, ws), cfgW(26, sps),
      Vector(ref))
    assert(out.y.forall(_ == 100)) // luma default = identity
    assert(out.cb.forall(_ == ((120 * 80 + 32) >> 6) + 3))
    assert(out.cr.forall(_ == ((120 * 48 + 32) >> 6) - 9))
  }

  test("P_Skip macroblocks are weighted too") {
    val sps = Encoder.spsFor(16, 16)
    val ref = uniformRef(90)
    val w = new BitWriter
    Encoder.writePSliceHeader(w, sps, 1, 0, deblock = true,
      weights = Some(Encoder.WeightSpec(5, 6, Seq(Some((40, 11))),
        Seq(None))))
    w.ue(1) // mb_skip_run covers the single MB
    val out = Decoder.decode(Encoder.avccSampleP(w), cfgW(26, sps),
      Vector(ref))
    assert(out.y.forall(_ == ((90 * 40 + 16) >> 5) + 11))
  }

  test("per-reference weights follow ref_idx") {
    val sps = Encoder.spsFor(16, 16, numRefFrames = 2)
    val refA = uniformRef(100)
    val refB = uniformRef(100)
    // ref 0 doubles, ref 1 halves — same pixels, different weights
    val ws = Encoder.WeightSpec(5, 6,
      Seq(Some((64, 0)), Some((16, 0))), Seq(None, None))
    val s0 = weightedCopy(sps, ws, numRefs = 2, refIdx = 0)
    val s1 = weightedCopy(sps, ws, numRefs = 2, refIdx = 1)
    val o0 = Decoder.decode(s0, cfgW(26, sps), Vector(refA, refB))
    val o1 = Decoder.decode(s1, cfgW(26, sps), Vector(refA, refB))
    assert(o0.y.forall(_ == 200))
    assert(o1.y.forall(_ == 50))
  }

  test("videoWeighted frames decode to their closed-form plane sums") {
    for (d <- 0L until 24L) {
      val n = 8 + (d % 5).toInt
      val mp4 = H264Fixtures.videoWeighted(d, n)
      val track = Mp4Samples.parse(mp4).get
      val c = Decoder.parseAvcc(track.avcc.get)
      assert(c.pps.weightedPred)
      var ref: Decoder.Yuv = null
      for (f <- 0 until n) {
        val yuv = Decoder.decode(track.sample(mp4, f), c, ref)
        ref = yuv
        val got = (yuv.y.map(_.toLong).sum, yuv.cb.map(_.toLong).sum,
          yuv.cr.map(_.toLong).sum)
        assert(got == H264FixtureSums.expectedSumsWeighted(d, f),
          s"doc=$d f=$f")
      }
    }
  }

  test("Mp4Frames end-to-end over the weighted fixture") {
    import graft.pack.FrameSource
    val d = 9L
    val mp4 = H264Fixtures.videoWeighted(d, 6)
    for (f <- Seq(5, 1, 0, 3)) {
      val img = graft.wds.Codecs.decodeImage(FrameSource.Mp4Frames.frame(mp4, f))
      val (ySum, cbSum, crSum) = H264FixtureSums.expectedSumsWeighted(d, f)
      val yv = (ySum / 256).toInt
      val u = (cbSum / 64).toInt - 128
      val v = (crSum / 64).toInt - 128
      def clip(x: Int) = math.max(0, math.min(255, x))
      val rSum = img.data.grouped(3).map(p => (p(0) & 0xff).toLong).sum
      val gSum = img.data.grouped(3).map(p => (p(1) & 0xff).toLong).sum
      assert(rSum == 256L * clip(yv + ((91881 * v + 32768) >> 16)), s"f=$f")
      assert(gSum ==
        256L * clip(yv - ((22554 * u + 46802 * v + 32768) >> 16)), s"f=$f")
    }
  }
}
