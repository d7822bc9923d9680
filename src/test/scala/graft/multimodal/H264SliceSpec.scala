package graft.multimodal.h264

import graft.multimodal.Mp4Samples
import org.scalatest.funsuite.AnyFunSuite

/** Multi-slice pictures (the encoder-parallelism layout of real H.264
  * streams): one AVCC sample carrying several slice NALs over
  * consecutive MB ranges. Pins the 6.4.9 slice-boundary availability
  * masking — intra prediction, CAVLC nC contexts, and MV prediction
  * must treat cross-slice neighbors as absent — plus the typed
  * rejection of ASO/FMO layouts the subset excludes. */
class H264SliceSpec extends AnyFunSuite {

  private def frame(w: Int, h: Int, seed: Int): Encoder.Frame = {
    val rnd = new scala.util.Random(seed)
    Encoder.Frame(w, h,
      Array.tabulate(w * h)(i =>
        math.min(250, 20 + (i % w) * 3 + (i / w) * 2 + rnd.nextInt(7))),
      Array.tabulate(w * h / 4)(i => 80 + (i % (w / 2)) + rnd.nextInt(5)),
      Array.tabulate(w * h / 4)(i => 150 + (i / (w / 2)) + rnd.nextInt(5)))
  }

  private def cfg(qp: Int, w: Int, h: Int) =
    Decoder.AvcConfig(Encoder.spsFor(w, h), Encoder.ppsFor(qp), 4)

  test("multi-slice all-PCM roundtrip is bit-exact (uneven last slice)") {
    val f = frame(64, 48, 3)
    val sample = Encoder.encodeFrame(f, qp = 28, pcmEvery = 1,
      mbPerSlice = 5) // 12 MBs -> slices of 5/5/2
    // three slice NALs in the sample
    assert(Nal.splitAvccSample(sample, 4).count(_._1 == 5) == 3)
    val yuv = Decoder.decode(sample, cfg(28, 64, 48))
    for (py <- 0 until 48; px <- 0 until 64)
      assert(yuv.luma(px, py) == f.y(py * 64 + px), s"($px,$py)")
  }

  test("multi-slice Intra_16x16 stays within the single-slice QP bounds") {
    val f = frame(64, 48, 7)
    for (mbs <- Seq(1, 3, 4)) {
      val yuv = Decoder.decode(
        Encoder.encodeFrame(f, qp = 20, mbPerSlice = mbs), cfg(20, 64, 48))
      var sum = 0L
      var worst = 0
      for (py <- 0 until 48; px <- 0 until 64) {
        val e = math.abs(yuv.luma(px, py) - f.y(py * 64 + px))
        sum += e
        worst = math.max(worst, e)
      }
      assert(sum.toDouble / (64 * 48) <= 8.0, s"mbPerSlice=$mbs")
      assert(worst <= 28, s"mbPerSlice=$mbs worst=$worst")
    }
  }

  test("multi-slice P: static content collapses to per-slice skip runs") {
    val f = frame(48, 48, 9)
    val c = cfg(22, 48, 48)
    val ref = Decoder.decode(
      Encoder.encodeFrame(f, 22, pcmEvery = 1, deblock = false), c)
    def fromYuv(yuv: Decoder.Yuv): Encoder.Frame = {
      val w = yuv.width; val h = yuv.height
      Encoder.Frame(w, h,
        Array.tabulate(w * h)(i => yuv.luma(i % w, i / w)),
        Array.tabulate(w * h / 4)(i =>
          yuv.cb((i / (w / 2)) * yuv.strideC + i % (w / 2))),
        Array.tabulate(w * h / 4)(i =>
          yuv.cr((i / (w / 2)) * yuv.strideC + i % (w / 2))))
    }
    val p = Encoder.encodePFrame(fromYuv(ref), ref, 22, 1,
      deblock = false, mbPerSlice = 4) // 9 MBs -> 3 slices, all skip
    assert(Nal.splitAvccSample(p, 4).count(_._1 == 1) == 3)
    val d = Decoder.decode(p, c, ref)
    assert(d.y.toSeq == ref.y.toSeq && d.cb.toSeq == ref.cb.toSeq)
  }

  test("multi-slice P with motion + residual stays QP-bounded") {
    val src = frame(64, 32, 13)
    val c = cfg(20, 64, 32)
    val ref = Decoder.decode(Encoder.encodeFrame(src, 20), c)
    val p = Encoder.encodePFrame(src, ref, 20, 1, mv = (-6, 5),
      mbPerSlice = 3)
    val d = Decoder.decode(p, c, ref)
    var worst = 0
    for (py <- 0 until 32; px <- 0 until 64)
      worst = math.max(worst, math.abs(d.luma(px, py) - src.y(py * 64 + px)))
    assert(worst <= 48, s"worst=$worst")
  }

  test("mixed P and I slices in one picture, slice-local intra neighbors") {
    // 32x16 (2 MBs): slice 1 P_Skips MB0 (copies ref); slice 2 is a
    // non-IDR I slice whose I_16x16 DC must NOT see MB0 -> uniform 128.
    // A decoder that leaks cross-slice availability predicts from MB0's
    // reconstructed column instead and fails the 128 check.
    val sps = Encoder.spsFor(32, 16)
    val c = Decoder.AvcConfig(sps, Encoder.ppsFor(26), 4)
    val f = frame(32, 16, 21)
    val ref = Decoder.decode(
      Encoder.encodeFrame(f, 26, pcmEvery = 1, deblock = false), c)
    val w1 = new BitWriter
    Encoder.writePSliceHeader(w1, sps, 1, 0, deblock = false, firstMb = 0)
    w1.ue(1) // mb_skip_run covering MB0
    val w2 = new BitWriter
    // non-IDR I-slice header (7.3.3): no idr_pic_id, sliding-window
    // marking flag because nal_ref_idc > 0
    w2.ue(1) // first_mb_in_slice
    w2.ue(7) // slice_type I (all slices)
    w2.ue(0) // pps id
    w2.u(sps.log2MaxFrameNum, 1) // frame_num (same picture as slice 1)
    w2.u(sps.log2MaxPocLsb, 2)
    w2.u1(0) // dec_ref_pic_marking: adaptive flag
    w2.se(0) // slice_qp_delta
    w2.ue(1) // disable_deblocking_filter_idc (matches slice 1)
    w2.ue(3) // mb_type I_16x16, DC pred, cbp 0
    w2.ue(0) // intra_chroma_pred_mode DC
    w2.se(0) // mb_qp_delta
    Cavlc.writeBlock(w2, 0, 16, new Array[Int](16)) // zero DC block
    val sample = Encoder.avccSampleMulti(Seq(w1, w2), nalType = 1)
    val d = Decoder.decode(sample, c, ref)
    // MB0 is a bit-exact copy of the reference
    for (py <- 0 until 16; px <- 0 until 16)
      assert(d.luma(px, py) == ref.luma(px, py), s"($px,$py)")
    // MB1: DC prediction with no available neighbors -> uniform 128
    for (py <- 0 until 16; px <- 16 until 32)
      assert(d.luma(px, py) == 128, s"($px,$py)=${d.luma(px, py)}")
  }

  test("ASO/FMO layouts and inconsistent deblock params stay typed") {
    val sps = Encoder.spsFor(32, 16)
    val c = Decoder.AvcConfig(sps, Encoder.ppsFor(26), 4)
    // two slices both claiming first_mb 0 -> non-consecutive coverage
    val w1 = new BitWriter
    Encoder.writeSliceHeader(w1, sps, 0, 0, deblock = true, firstMb = 0)
    w1.ue(3); w1.ue(0); w1.se(0)
    Cavlc.writeBlock(w1, 0, 16, new Array[Int](16))
    val w2 = new BitWriter
    Encoder.writeSliceHeader(w2, sps, 0, 0, deblock = true, firstMb = 0)
    w2.ue(3); w2.ue(0); w2.se(0)
    Cavlc.writeBlock(w2, 0, 16, new Array[Int](16))
    val bad = Encoder.avccSampleMulti(Seq(w1, w2), nalType = 5)
    intercept[UnsupportedFeature](Decoder.decode(bad, c))
    // slice 2 disagreeing on the deblock flag
    val w3 = new BitWriter
    Encoder.writeSliceHeader(w3, sps, 0, 0, deblock = true, firstMb = 0)
    w3.ue(3); w3.ue(0); w3.se(0)
    Cavlc.writeBlock(w3, 0, 16, new Array[Int](16))
    val w4 = new BitWriter
    Encoder.writeSliceHeader(w4, sps, 0, 0, deblock = false, firstMb = 1)
    w4.ue(3); w4.ue(0); w4.se(0)
    Cavlc.writeBlock(w4, 0, 16, new Array[Int](16))
    val mixed = Encoder.avccSampleMulti(Seq(w3, w4), nalType = 5)
    intercept[UnsupportedFeature](Decoder.decode(mixed, c))
  }

  test("divergent per-slice dec_ref_pic_marking stays typed") {
    // 7.4.3: every slice of a picture must carry identical marking;
    // first-wins on divergent input would silently pick one DPB
    // mutation over another
    val sps = Encoder.spsFor(32, 16)
    val c = Decoder.AvcConfig(sps, Encoder.ppsFor(26), 4)
    val f = frame(32, 16, 21)
    val ref = Decoder.decode(
      Encoder.encodeFrame(f, 26, pcmEvery = 1, deblock = false), c)
    def slice(firstMb: Int, mmco: Seq[(Int, Int, Int)]): BitWriter = {
      val w = new BitWriter
      Encoder.writePSliceHeader(w, sps, 1, 0, deblock = false,
        firstMb = firstMb, mmco = mmco)
      w.ue(1) // mb_skip_run covering this slice's MB
      w
    }
    // identical marking on both slices -> decodes, ops surfaced once
    val ok = Encoder.avccSampleMulti(
      Seq(slice(0, Seq((1, 0, 0))), slice(1, Seq((1, 0, 0)))),
      nalType = 1)
    assert(Decoder.decode(ok, c, ref).mmco == List((1, 0, 0)))
    // slice 2 with different ops -> typed
    val bad = Encoder.avccSampleMulti(
      Seq(slice(0, Seq((1, 0, 0))), slice(1, Seq((2, 0, 0)))),
      nalType = 1)
    intercept[UnsupportedFeature](Decoder.decode(bad, c, ref))
    // adaptive-but-EMPTY first slice stands (parsed-flag, not
    // emptiness): a later slice bringing real ops is divergent, not
    // silently adopted
    val wEmpty = new BitWriter
    wEmpty.ue(0) // first_mb_in_slice
    wEmpty.ue(5) // slice_type P (all slices)
    wEmpty.ue(0) // pps id
    wEmpty.u(sps.log2MaxFrameNum, 1)
    wEmpty.u(sps.log2MaxPocLsb, 2)
    wEmpty.u1(0) // num_ref_idx_active_override
    wEmpty.u1(0) // ref_pic_list_modification
    wEmpty.u1(1) // adaptive_ref_pic_marking_flag, no ops
    wEmpty.ue(0) // memory_management_control_operation 0 (end)
    wEmpty.se(0) // slice_qp_delta
    wEmpty.ue(1) // disable_deblocking_filter_idc
    wEmpty.ue(1) // mb_skip_run
    val sneaky = Encoder.avccSampleMulti(
      Seq(wEmpty, slice(1, Seq((1, 0, 0)))), nalType = 1)
    intercept[UnsupportedFeature](Decoder.decode(sneaky, c, ref))
  }

  test("videoSlices fixtures decode to their closed-form plane sums") {
    for (d <- 0L until 24L) {
      val n = 4 + (d % 3).toInt
      val mp4 = H264Fixtures.videoSlices(d, n)
      val track = Mp4Samples.parse(mp4).get
      assert(track.codec == "avc1")
      val c = Decoder.parseAvcc(track.avcc.get)
      var ref: Decoder.Yuv = null
      for (f <- 0 until n) {
        val yuv = Decoder.decode(track.sample(mp4, f), c, ref)
        ref = yuv
        val got = (yuv.y.map(_.toLong).sum, yuv.cb.map(_.toLong).sum,
          yuv.cr.map(_.toLong).sum)
        assert(got == H264FixtureSums.expectedSumsSlices(d, f), s"doc=$d f=$f")
      }
    }
  }

  test("multi-slice GOP video decodes through Mp4Frames end-to-end") {
    import graft.pack.FrameSource
    val frames = (0 until 5).map(i => frame(48, 32, 30 + i))
    val mp4 = Encoder.mp4Gop(frames, qp = 22, fps = 10, gop = 3,
      mvFor = i => (i % 3 - 1, 1), mbPerSlice = 2)
    assert(FrameSource.Mp4Frames.frameCount(mp4) == 5)
    for (i <- 0 until 5) {
      val img = graft.wds.Codecs.decodeImage(FrameSource.Mp4Frames.frame(mp4, i))
      assert(img.width == 48 && img.height == 32, s"f=$i")
    }
    // frame 4 (P on P) still close to source through the full chain
    val track = Mp4Samples.parse(mp4).get
    val c = Decoder.parseAvcc(track.avcc.get)
    var ref: Decoder.Yuv = null
    var yuv: Decoder.Yuv = null
    for (j <- 3 to 4) {
      yuv = Decoder.decode(track.sample(mp4, j), c, ref)
      ref = yuv
    }
    var worst = 0
    for (py <- 0 until 32; px <- 0 until 48)
      worst = math.max(worst,
        math.abs(yuv.luma(px, py) - frames(4).y(py * 48 + px)))
    assert(worst <= 48, s"worst=$worst")
  }
}
