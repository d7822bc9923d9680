package graft.multimodal.h264

import graft.multimodal.Mp4Samples
import org.scalatest.funsuite.AnyFunSuite

/** Multi-reference P-slice decode: te(v) ref_idx_l0 parsing, reference
  * list 0 order (most recently decoded first, 8.2.4.2.1), the
  * sliding-window DPB walk in the FrameSource seam, per-MB min-SAD
  * ref selection in the fixture encoder, and the different-reference
  * deblock bS rule. The reference pipeline gets multi-ref streams
  * decoded by decord/ffmpeg (`pack/dataset.py:102-108`); these specs
  * pin the pure-JVM path to closed-form fixtures and to exact
  * encode∘decode invariants. */
class H264MultiRefSpec extends AnyFunSuite {

  private def frame(w: Int, h: Int, seed: Int): Encoder.Frame = {
    val rnd = new scala.util.Random(seed)
    Encoder.Frame(w, h,
      Array.tabulate(w * h)(i =>
        math.min(250, 20 + (i % w) * 3 + (i / w) * 2 + rnd.nextInt(7))),
      Array.tabulate(w * h / 4)(i => 80 + (i % (w / 2)) + rnd.nextInt(5)),
      Array.tabulate(w * h / 4)(i => 150 + (i / (w / 2)) + rnd.nextInt(5)))
  }

  /** decode-order walk with the decoder's own sliding-window DPB
    * maintenance (IDR clears; each reference picture prepends) */
  private def walk(mp4: Array[Byte], upTo: Int): Seq[Decoder.Yuv] = {
    val track = Mp4Samples.parse(mp4).get
    val c = Decoder.parseAvcc(track.avcc.get)
    val maxRef = math.max(1, c.sps.maxNumRefFrames)
    var dpb = Vector.empty[Decoder.Yuv]
    (0 to upTo).map { j =>
      val s = track.sample(mp4, j)
      val idr = Decoder.isIdr(s, c)
      val out = Decoder.decode(s, c, if (idr) Vector.empty[Decoder.Yuv] else dpb)
      dpb = if (idr) Vector(out) else (out +: dpb).take(maxRef)
      out
    }
  }

  test("SPS round-trips max_num_ref_frames") {
    val sps = Encoder.spsFor(32, 16, numRefFrames = 3)
    assert(Sps.parse(Sps.write(sps)).maxNumRefFrames == 3)
    assert(Sps.parse(Sps.write(Encoder.spsFor(16, 16))).maxNumRefFrames == 1)
  }

  test("videoMultiRef frames decode to their closed-form plane sums") {
    for (d <- 0L until 24L) {
      val n = 9 + (d % 4).toInt
      val mp4 = H264Fixtures.videoMultiRef(d, n)
      val decoded = walk(mp4, n - 1)
      for (f <- 0 until n) {
        val yuv = decoded(f)
        val got = (yuv.y.map(_.toLong).sum, yuv.cb.map(_.toLong).sum,
          yuv.cr.map(_.toLong).sum)
        assert(got == H264FixtureSums.expectedSumsMultiRef(d, f),
          s"doc=$d f=$f")
      }
    }
  }

  test("ref_idx is honored: reversing the DPB changes the picture") {
    val d = 3L // la-value and PCM value differ for this doc
    val mp4 = H264Fixtures.videoMultiRef(d, 4)
    val track = Mp4Samples.parse(mp4).get
    val c = Decoder.parseAvcc(track.avcc.get)
    val idr = Decoder.decode(track.sample(mp4, 0), c)
    val p1 = Decoder.decode(track.sample(mp4, 1), c, Vector(idr))
    assert(idr.y(0) != p1.y(0), "fixture values must differ to discriminate")
    // frame 2 carries ref_idx_l0 = 1 -> with list [p1, idr] it copies
    // the IDR; with the list reversed it would copy the PCM picture
    val s2 = track.sample(mp4, 2)
    val good = Decoder.decode(s2, c, Vector(p1, idr))
    val swapped = Decoder.decode(s2, c, Vector(idr, p1))
    assert(good.y.toSeq == idr.y.toSeq)
    assert(swapped.y.toSeq == p1.y.toSeq)
    assert(good.y(0) != swapped.y(0))
  }

  test("Mp4Frames walk maintains the 2-picture sliding window") {
    import graft.pack.FrameSource
    val d = 5L
    val n = 11
    val mp4 = H264Fixtures.videoMultiRef(d, n)
    // random access incl. backward jumps: every frame must match the
    // closed form through the public FrameSource contract (chroma 128
    // everywhere makes BT.601 the identity -> RGB == luma)
    for (f <- Seq(n - 1, 2, 3, 7, 7, 0, 10, 1, 6)) {
      val img = graft.wds.Codecs.decodeImage(FrameSource.Mp4Frames.frame(mp4, f))
      val rSum = img.data.grouped(3).map(p => (p(0) & 0xff).toLong).sum
      val (ySum, _, _) = H264FixtureSums.expectedSumsMultiRef(d, f)
      assert(rSum == ySum, s"f=$f")
    }
  }

  test("encodePFrameRefs picks the zero-SAD reference and is exact") {
    val qp = 24
    val sps = Encoder.spsFor(32, 32, numRefFrames = 2)
    val c = Decoder.AvcConfig(sps, Encoder.ppsFor(qp), 4)
    val a = frame(32, 32, 1)
    // b differs from a EVERYWHERE (+60 luma) so no MB of r1 can tie
    // r0's at SAD 0 (a tie would legally pick ref 0)
    val b = Encoder.Frame(32, 32,
      a.y.map(v => math.min(255, v + 60)), a.cb.clone(), a.cr.clone())
    val s0 = Encoder.encodeFrame(a, qp)
    val r0 = Decoder.decode(s0, c)
    val s1 = Encoder.encodePFrame(b, r0, qp, frameNum = 1)
    val r1 = Decoder.decode(s1, c, Vector(r0))
    assert(r0.y.toSeq != r1.y.toSeq)
    // target frame == r0's reconstruction -> every MB's SAD against
    // ref_idx 1 is zero -> chosen, zero residual -> decode must
    // reproduce r0 EXACTLY through ref_idx 1 (deblock off for the
    // target picture: a legal per-picture choice that keeps the
    // copy bit-exact)
    val f2 = Encoder.Frame(32, 32,
      Array.tabulate(32 * 32)(i => r0.luma(i % 32, i / 32)),
      Array.tabulate(16 * 16)(i => r0.cb((i / 16) * r0.strideC + i % 16)),
      Array.tabulate(16 * 16)(i => r0.cr((i / 16) * r0.strideC + i % 16)))
    val s2 = Encoder.encodePFrameRefs(f2, Vector(r1, r0), qp,
      frameNum = 2, deblock = false)
    val r2 = Decoder.decode(s2, c, Vector(r1, r0))
    assert(r2.y.toSeq == r0.y.toSeq)
    assert(r2.cb.toSeq == r0.cb.toSeq && r2.cr.toSeq == r0.cr.toSeq)
    // the ref choice is observable: swapping the DPB must change the
    // picture (those MBs now copy r1)
    val r2sw = Decoder.decode(s2, c, Vector(r0, r1))
    assert(r2sw.y.toSeq != r2.y.toSeq)
  }

  test("mp4GopMulti end-to-end through Mp4Frames stays QP-bounded") {
    import graft.pack.FrameSource
    // frames alternate between two scenes, so min-SAD ref selection
    // reaches across the most-recent picture (ref_idx 1 usage)
    val frames = (0 until 7).map(i =>
      if (i % 2 == 0) frame(32, 32, 11) else frame(32, 32, 77))
    val mp4 = Encoder.mp4GopMulti(frames, qp = 20, fps = 10, gop = 7,
      numRefs = 2)
    assert(FrameSource.Mp4Frames.frameCount(mp4) == 7)
    val track = Mp4Samples.parse(mp4).get
    val c = Decoder.parseAvcc(track.avcc.get)
    assert(c.sps.maxNumRefFrames == 2)
    val decoded = walk(mp4, 6)
    for (i <- 0 until 7) {
      // the public seam must agree with the manual sliding-window walk
      val img = graft.wds.Codecs.decodeImage(FrameSource.Mp4Frames.frame(mp4, i))
      assert(img.data.toSeq == Decoder.toRgb(decoded(i)).toSeq, s"i=$i")
      var worst = 0
      for (py <- 0 until 32; px <- 0 until 32)
        worst = math.max(worst,
          math.abs(decoded(i).luma(px, py) - frames(i).y(py * 32 + px)))
      assert(worst <= 48, s"i=$i worst=$worst")
    }
  }

  test("deblock bS: different reference pictures across the edge -> 1") {
    // two inter MBs, zero MVs, zero residual, refIdx 0 vs 1: bS must
    // be 1 (filtering runs) where the single-ref rule would give 0
    val y = Array.tabulate(32 * 16)(i => if (i % 32 < 16) 100 else 110)
    val cb = Array.fill(16 * 8)(90)
    val cr = Array.fill(16 * 8)(90)
    val refG = Array.tabulate(8 * 4)(i => if (i % 8 < 4) 0 else 1)
    Deblock.frame(y, cb, cr, 2, 1, Array(30, 30), 0, 0, 0,
      Deblock.FrameMeta(Array(false, false), new Array[Int](8 * 4), refG,
        new Array[Int](8 * 4), new Array[Int](8 * 4)))
    assert(y(15) != 100 || y(16) != 110)
    // same ref everywhere -> bS 0 -> untouched
    val y2 = Array.tabulate(32 * 16)(i => if (i % 32 < 16) 100 else 110)
    Deblock.frame(y2, cb, cr, 2, 1, Array(30, 30), 0, 0, 0,
      Deblock.FrameMeta(Array(false, false), new Array[Int](8 * 4),
        Array.fill(8 * 4)(1), new Array[Int](8 * 4), new Array[Int](8 * 4)))
    assert(y2(15) == 100 && y2(16) == 110)
  }
}
