package graft.multimodal.h264

import graft.multimodal.Mp4Samples
import org.scalatest.funsuite.AnyFunSuite

/** P-slice (inter) decode path: quarter-pel interpolation arithmetic,
  * median MV prediction, P_Skip, partitioned macroblocks, the fixture
  * GOP's closed-form truth, and the FrameSource walk-back seam. The
  * reference obtains all of this from decord
  * (`pack/dataset.py:102-108`); no ffmpeg exists in this environment,
  * so the spec pins the arithmetic to hand-computed spec values and to
  * encode∘decode invariants instead. */
class H264InterSpec extends AnyFunSuite {

  private val sps16 = Encoder.spsFor(16, 16)
  private def cfg(qp: Int, sps: Sps = sps16) =
    Decoder.AvcConfig(sps, Encoder.ppsFor(qp), 4)

  private def frame(w: Int, h: Int, seed: Int): Encoder.Frame = {
    val rnd = new scala.util.Random(seed)
    Encoder.Frame(w, h,
      Array.tabulate(w * h)(i =>
        math.min(250, 20 + (i % w) * 3 + (i / w) * 2 + rnd.nextInt(7))),
      Array.tabulate(w * h / 4)(i => 80 + (i % (w / 2)) + rnd.nextInt(5)),
      Array.tabulate(w * h / 4)(i => 150 + (i / (w / 2)) + rnd.nextInt(5)))
  }

  // ---------- Interp: spec arithmetic ----------

  test("luma half-pel horizontal matches the 6-tap hand computation") {
    // one row of known samples in a 16x16 plane, read at mv (2,0)
    val plane = new Array[Int](16 * 16)
    val row = Array(7, 10, 20, 40, 80, 120, 200, 210, 215, 220, 230, 240,
      241, 242, 243, 244)
    for (x <- 0 until 16; y <- 0 until 16) plane(y * 16 + x) = row(x)
    val out = new Array[Int](16)
    Interp.luma(plane, 16, 16, 2, 5, 2, 0, 4, 1, out, 16, 0, 0)
    def b(e: Int, f: Int, g: Int, h: Int, i: Int, j: Int) =
      math.max(0, math.min(255,
        (e - 5 * f + 20 * g + 20 * h - 5 * i + j + 16) >> 5))
    assert(out(0) == b(7, 10, 20, 40, 80, 120))
    assert(out(1) == b(10, 20, 40, 80, 120, 200))
    assert(out(2) == b(20, 40, 80, 120, 200, 210))
    assert(out(3) == b(40, 80, 120, 200, 210, 215))
  }

  test("luma center half-pel (2,2) applies the two-stage >>10 filter") {
    // column-constant plane: vertical taps collapse, j == horizontal b
    val plane = Array.tabulate(16 * 16)(i => (i % 16) * 9 % 251)
    val outJ = new Array[Int](16)
    val outB = new Array[Int](16)
    Interp.luma(plane, 16, 16, 4, 8, 2, 2, 2, 1, outJ, 16, 0, 0)
    Interp.luma(plane, 16, 16, 4, 8, 2, 0, 2, 1, outB, 16, 0, 0)
    assert(outJ(0) == outB(0) && outJ(1) == outB(1))
  }

  test("all 16 quarter-pel phases are the identity on a constant plane") {
    val plane = Array.fill(32 * 16)(137)
    val out = new Array[Int](64)
    for (fx <- 0 to 3; fy <- 0 to 3) {
      Interp.luma(plane, 32, 16, 5, 5, fx - 8, fy + 4, 8, 8, out, 8, 0, 0)
      assert(out.forall(_ == 137), s"frac ($fx,$fy)")
    }
  }

  test("full-pel MV is a clamped shifted copy") {
    val plane = Array.tabulate(32 * 32)(i => (i * 17) % 251)
    val out = new Array[Int](16)
    Interp.luma(plane, 32, 32, 8, 8, -8, 4, 4, 4, out, 4, 0, 0)
    for (dy <- 0 until 4; dx <- 0 until 4)
      assert(out(dy * 4 + dx) == plane((9 + dy) * 32 + 6 + dx))
    // off-edge reads clamp to the border (8.4.2.2.1 Clip3)
    Interp.luma(plane, 32, 32, 0, 0, -40, -40, 2, 2, out, 4, 0, 0)
    assert(out(0) == plane(0) && out(1) == plane(0))
  }

  test("chroma eighth-pel bilinear matches the hand computation") {
    val plane = new Array[Int](8 * 8)
    plane(0) = 40; plane(1) = 80; plane(8) = 120; plane(9) = 200
    val out = new Array[Int](4)
    // fx=3, fy=5 at (0,0)
    Interp.chroma(plane, 8, 8, 0, 0, 3, 5, 1, 1, out, 4, 0, 0)
    val expect = (5 * 3 * 40 + 3 * 3 * 80 + 5 * 5 * 120 + 3 * 5 * 200 + 32) >> 6
    assert(out(0) == expect)
  }

  // ---------- MotionPred ----------

  test("median MV prediction follows 8.4.1.3") {
    val cols = 8; val rows = 8
    def grids = (Array.fill(cols * rows)(MotionPred.Unavail),
      new Array[Int](cols * rows), new Array[Int](cols * rows))
    def set(r: Array[Int], x: Array[Int], y: Array[Int], bx: Int, by: Int,
        ref: Int, mx: Int, my: Int): Unit = {
      r(by * cols + bx) = ref; x(by * cols + bx) = mx; y(by * cols + bx) = my
    }
    // no neighbors at all -> (0,0)
    val (r0, x0, y0) = grids
    assert(MotionPred.predict(r0, x0, y0, cols, rows, 0, 0, 4, 4) == ((0, 0)))
    // only A available -> mvA (B,C unavailable clause)
    val (r1, x1, y1) = grids
    set(r1, x1, y1, 3, 4, 0, 12, -4)
    assert(MotionPred.predict(r1, x1, y1, cols, rows, 4, 4, 4, 4) == ((12, -4)))
    // A,B,C all inter -> componentwise median (partition at (2,4) so C
    // at bx+wB = 6 stays inside the grid)
    val (r2, x2, y2) = grids
    set(r2, x2, y2, 1, 4, 0, 10, 1)   // A
    set(r2, x2, y2, 2, 3, 0, 2, 5)    // B
    set(r2, x2, y2, 6, 3, 0, 6, 9)    // C at bx+wB=6
    assert(MotionPred.predict(r2, x2, y2, cols, rows, 2, 4, 4, 4) == ((6, 5)))
    // intra B counts as (0,0) in the median, not as missing
    val (r3, x3, y3) = grids
    set(r3, x3, y3, 1, 4, 0, 10, 10)
    set(r3, x3, y3, 2, 3, MotionPred.Intra, 99, 99)
    set(r3, x3, y3, 6, 3, 0, 4, 4)
    assert(MotionPred.predict(r3, x3, y3, cols, rows, 2, 4, 4, 4) == ((4, 4)))
    // 16x8 top prefers B, bottom prefers A when refs match
    val (r4, x4, y4) = grids
    set(r4, x4, y4, 4, 3, 0, 7, 8)   // B of top partition
    set(r4, x4, y4, 3, 6, 0, -3, 2)  // A of bottom partition
    assert(MotionPred.predict(r4, x4, y4, cols, rows, 4, 4, 4, 2,
      MotionPred.Part16x8Top) == ((7, 8)))
    assert(MotionPred.predict(r4, x4, y4, cols, rows, 4, 6, 4, 2,
      MotionPred.Part16x8Bottom) == ((-3, 2)))
    // 8x16 right prefers C
    val (r5, x5, y5) = grids
    set(r5, x5, y5, 6, 3, 0, 5, -5) // C at bx+wB = 4+2
    assert(MotionPred.predict(r5, x5, y5, cols, rows, 4, 4, 2, 4,
      MotionPred.Part8x16Right) == ((5, -5)))
  }

  test("P_Skip MV zeroes on unavailable or zero-MV top/left (8.4.1.1)") {
    val cols = 8; val rows = 8
    val r = Array.fill(cols * rows)(MotionPred.Unavail)
    val x = new Array[Int](cols * rows)
    val y = new Array[Int](cols * rows)
    // top row MB: B unavailable -> (0,0) regardless of A
    r(4 * cols + 3) = 0; x(4 * cols + 3) = 9; y(4 * cols + 3) = 9
    assert(MotionPred.skipMv(r, x, y, cols, rows, 4, 0) == ((0, 0)))
    // both available, nonzero MVs -> falls through to the median pred
    for (bx <- 0 until cols; by <- 0 until rows) {
      r(by * cols + bx) = 0; x(by * cols + bx) = 8; y(by * cols + bx) = 4
    }
    assert(MotionPred.skipMv(r, x, y, cols, rows, 4, 4) == ((8, 4)))
    // left neighbor zero-MV ref0 -> (0,0)
    x(4 * cols + 3) = 0; y(4 * cols + 3) = 0
    assert(MotionPred.skipMv(r, x, y, cols, rows, 4, 4) == ((0, 0)))
  }

  // ---------- encode∘decode invariants ----------

  test("whole-frame P_Skip decodes to a bit-exact copy of the reference") {
    val f = frame(48, 32, 11)
    val c = cfg(24, Encoder.spsFor(48, 32))
    val i = Decoder.decode(Encoder.encodeFrame(f, 24), c)
    val p = encodePFrame(i, 24)
    val d = Decoder.decode(p, c, i)
    assert(d.y.toSeq == i.y.toSeq && d.cb.toSeq == i.cb.toSeq &&
      d.cr.toSeq == i.cr.toSeq)
  }

  // encodePFrame over the decoded reference itself -> zero residual ->
  // every MB takes the P_Skip path including the trailing skip run
  private def fromYuv(yuv: Decoder.Yuv): Encoder.Frame = {
    val w = yuv.width; val h = yuv.height
    Encoder.Frame(w, h,
      Array.tabulate(w * h)(i => yuv.luma(i % w, i / w)),
      Array.tabulate(w * h / 4)(i =>
        yuv.cb((i / (w / 2)) * yuv.strideC + i % (w / 2))),
      Array.tabulate(w * h / 4)(i =>
        yuv.cr((i / (w / 2)) * yuv.strideC + i % (w / 2))))
  }
  private def encodePFrame(f2: Decoder.Yuv, qp: Int): Array[Byte] =
    Encoder.encodePFrame(fromYuv(f2), f2, qp, frameNum = 1)

  test("P-frame roundtrip error is QP-bounded across MV phases") {
    val src = frame(64, 48, 23)
    val c = cfg(20, Encoder.spsFor(64, 48))
    val ref = Decoder.decode(Encoder.encodeFrame(src, 20), c)
    for (mv <- Seq((0, 0), (2, 0), (0, 2), (1, 1), (-6, 5), (7, -3),
      (2, 2), (3, 3))) {
      val p = Encoder.encodePFrame(src, ref, 20, 1, mv)
      val d = Decoder.decode(p, c, ref)
      var sum = 0L
      var worst = 0
      for (py <- 0 until 48; px <- 0 until 64) {
        val e = math.abs(d.luma(px, py) - src.y(py * 64 + px))
        sum += e
        worst = math.max(worst, e)
      }
      val mean = sum.toDouble / (64 * 48)
      assert(mean <= 10.0, s"mv=$mv mean=$mean")
      assert(worst <= 48, s"mv=$mv worst=$worst")
    }
  }

  test("static content encodes as P_Skip runs (tiny sample, exact copy)") {
    val src = frame(48, 48, 5)
    val c = cfg(22, Encoder.spsFor(48, 48))
    val ref = Decoder.decode(Encoder.encodeFrame(src, 22, pcmEvery = 1), c)
    val p = encodePFrame(ref, 22)
    // a 9-MB all-skip frame is just header + one skip run
    assert(p.length < 24, s"all-skip P sample is ${p.length}B")
    val d = Decoder.decode(p, c, ref)
    assert(d.y.toSeq == ref.y.toSeq)
  }

  test("integer-pel motion: shifted content + matching MV is near-lossless") {
    // frame2 = frame1 shifted right 2px, down 1px; MV (8,4) quarter-pel
    val f1 = frame(64, 32, 31)
    val y2 = Array.tabulate(64 * 32) { i =>
      val x = math.max(0, i % 64 - 2)
      val y = math.max(0, i / 64 - 1)
      f1.y(y * 64 + x)
    }
    val cb2 = Array.tabulate(32 * 16) { i =>
      val x = math.max(0, i % 32 - 1)
      f1.cb((i / 32) * 32 + x)
    }
    val cr2 = Array.tabulate(32 * 16) { i =>
      val x = math.max(0, i % 32 - 1)
      f1.cr((i / 32) * 32 + x)
    }
    val f2 = Encoder.Frame(64, 32, y2, cb2, cr2)
    val c = cfg(18, Encoder.spsFor(64, 32))
    val ref = Decoder.decode(Encoder.encodeFrame(f1, 18, pcmEvery = 1), c)
    val p = Encoder.encodePFrame(f2, ref, 18, 1, mv = (8, 4),
      deblock = false)
    val d = Decoder.decode(p, c, ref)
    // interior pixels: MC hits the exact source, residual ~ 0
    var worst = 0
    for (py <- 4 until 32; px <- 4 until 64)
      worst = math.max(worst, math.abs(d.luma(px, py) - f2.y(py * 64 + px)))
    assert(worst <= 6, s"worst interior error $worst")
  }

  // ---------- hand-assembled partition shapes (decoder-only paths) ----------

  /** lossless 16x16 reference via an all-PCM IDR, deblock off */
  private def pcmRef(seed: Int): (Decoder.Yuv, Decoder.AvcConfig) = {
    val f = frame(16, 16, seed)
    val c = cfg(26)
    val yuv = Decoder.decode(
      Encoder.encodeFrame(f, 26, pcmEvery = 1, deblock = false), c)
    (yuv, c)
  }

  private def decodeP(w: BitWriter, c: Decoder.AvcConfig,
      ref: Decoder.Yuv): Decoder.Yuv =
    Decoder.decode(Encoder.avccSampleP(w), c, ref)

  private def mcExpect(ref: Decoder.Yuv,
      parts: Seq[(Int, Int, Int, Int, Int, Int)]): (Array[Int], Array[Int], Array[Int]) = {
    val y = new Array[Int](256)
    val cb = new Array[Int](64)
    val cr = new Array[Int](64)
    parts.foreach { case (px, py, w, h, mvx, mvy) =>
      Interp.luma(ref.y, ref.strideY, ref.mbH * 16, px, py, mvx, mvy,
        w, h, y, 16, px, py)
      Interp.chroma(ref.cb, ref.strideC, ref.mbH * 8, px / 2, py / 2,
        mvx, mvy, w / 2, h / 2, cb, 8, px / 2, py / 2)
      Interp.chroma(ref.cr, ref.strideC, ref.mbH * 8, px / 2, py / 2,
        mvx, mvy, w / 2, h / 2, cr, 8, px / 2, py / 2)
    }
    (y, cb, cr)
  }

  test("P_L0_L0_8x16 partitions carry distinct MVs") {
    val (ref, c) = pcmRef(41)
    val w = new BitWriter
    Encoder.writePSliceHeader(w, sps16, 1, 0, deblock = false)
    w.ue(0) // mb_skip_run
    w.ue(2) // P_L0_L0_8x16
    w.se(0); w.se(0)   // left: mvp (0,0) -> mv (0,0)
    w.se(-8); w.se(0)  // right: mvp = mvA = (0,0) -> mv (-8,0)
    w.ue(Decoder.codeNumFromCbpInter(0))
    val d = decodeP(w, c, ref)
    val (ey, ecb, ecr) = mcExpect(ref,
      Seq((0, 0, 8, 16, 0, 0), (8, 0, 8, 16, -8, 0)))
    assert(d.y.toSeq == ey.toSeq)
    assert(d.cb.toSeq == ecb.toSeq && d.cr.toSeq == ecr.toSeq)
  }

  test("P_L0_L0_16x8 partitions carry distinct MVs") {
    val (ref, c) = pcmRef(43)
    val w = new BitWriter
    Encoder.writePSliceHeader(w, sps16, 1, 0, deblock = false)
    w.ue(0)
    w.ue(1) // P_L0_L0_16x8
    w.se(4); w.se(0)  // top: mvp (0,0) -> (4,0)
    // bottom: Part16x8Bottom prefers A; A unavailable (mbX=0) ->
    // general: B = top partition (4,0) matches -> mvp (4,0)
    w.se(0); w.se(-8) // -> mv (4,-8)
    w.ue(Decoder.codeNumFromCbpInter(0))
    val d = decodeP(w, c, ref)
    val (ey, _, _) = mcExpect(ref,
      Seq((0, 0, 16, 8, 4, 0), (0, 8, 16, 8, 4, -8)))
    assert(d.y.toSeq == ey.toSeq)
  }

  test("P_8x8 with mixed sub-partition shapes decodes every MV") {
    val (ref, c) = pcmRef(47)
    val w = new BitWriter
    Encoder.writePSliceHeader(w, sps16, 1, 0, deblock = false)
    w.ue(0)
    w.ue(3) // P_8x8
    w.ue(0); w.ue(1); w.ue(2); w.ue(3) // 8x8 / 8x4 / 4x8 / 4x4
    // replicate the decoder's partition order, choosing desired MVs and
    // deriving each mvd through the SAME MotionPred the decoder uses
    // (grid bookkeeping mirrored by hand)
    val cols = 4; val rows = 4
    val rG = Array.fill(cols * rows)(MotionPred.Unavail)
    val xG = new Array[Int](cols * rows)
    val yG = new Array[Int](cols * rows)
    val want = Seq(
      (0, 0, 8, 8, 4, 4),    // sub 0: one 8x8
      (8, 0, 8, 4, -4, 0),   // sub 1: two 8x4
      (8, 4, 8, 4, 0, 4),
      (0, 8, 4, 8, 8, -4),   // sub 2: two 4x8
      (4, 8, 4, 8, 0, 0),
      (8, 8, 4, 4, 4, 0),    // sub 3: four 4x4
      (12, 8, 4, 4, 0, -4),
      (8, 12, 4, 4, -4, 4),
      (12, 12, 4, 4, 0, 8))
    want.foreach { case (px, py, pw, ph, mvx, mvy) =>
      val (mpx, mpy) = MotionPred.predict(rG, xG, yG, cols, rows,
        px / 4, py / 4, pw / 4, ph / 4)
      w.se(mvx - mpx); w.se(mvy - mpy)
      for (by <- py / 4 until (py + ph) / 4; bx <- px / 4 until (px + pw) / 4) {
        rG(by * cols + bx) = 0
        xG(by * cols + bx) = mvx
        yG(by * cols + bx) = mvy
      }
    }
    w.ue(Decoder.codeNumFromCbpInter(0))
    val d = decodeP(w, c, ref)
    val (ey, ecb, ecr) = mcExpect(ref, want)
    assert(d.y.toSeq == ey.toSeq)
    assert(d.cb.toSeq == ecb.toSeq && d.cr.toSeq == ecr.toSeq)
  }

  // ---------- deblock bS derivation ----------

  test("inter bS: MV delta >= 4 filters, equal MVs do not (8.7.2.1)") {
    def stepPlanes(): (Array[Int], Array[Int], Array[Int]) = (
      Array.tabulate(32 * 16)(i => if (i % 32 < 16) 100 else 108),
      Array.fill(16 * 8)(90), Array.fill(16 * 8)(90))
    val mbQp = Array(30, 30)
    def meta(mvRight: Int) = Deblock.FrameMeta(
      Array(false, false), new Array[Int](8 * 4),
      Array.fill(8 * 4)(0),
      Array.tabulate(8 * 4)(i => if (i % 8 < 4) 0 else mvRight),
      new Array[Int](8 * 4))
    val (y1, cb1, cr1) = stepPlanes()
    Deblock.frame(y1, cb1, cr1, 2, 1, mbQp, 0, 0, 0, meta(0))
    assert(y1(15) == 100 && y1(16) == 108, "bS=0 edge must stay unfiltered")
    val (y2, cb2, cr2) = stepPlanes()
    Deblock.frame(y2, cb2, cr2, 2, 1, mbQp, 0, 0, 0, meta(4))
    assert(y2(15) != 100 || y2(16) != 108, "bS=1 edge must filter")
  }

  test("inter bS: coded residual (nz>0) raises the edge to bS=2") {
    val y = Array.tabulate(32 * 16)(i => if (i % 32 < 16) 100 else 110)
    val cb = Array.fill(16 * 8)(90)
    val cr = Array.fill(16 * 8)(90)
    val nz = new Array[Int](8 * 4)
    nz(4) = 2 // first block of the right MB
    Deblock.frame(y, cb, cr, 2, 1, Array(30, 30), 0, 0, 0,
      Deblock.FrameMeta(Array(false, false), nz, Array.fill(8 * 4)(0),
        new Array[Int](8 * 4), new Array[Int](8 * 4)))
    assert(y(15) != 100 || y(16) != 110)
  }

  // ---------- fixtures: analytic truth + the FrameSource seam ----------

  test("videoGop frames decode to their closed-form plane sums") {
    for (d <- 0L until 24L) {
      val n = 9 + (d % 4).toInt
      val mp4 = H264Fixtures.videoGop(d, n)
      val track = Mp4Samples.parse(mp4).get
      val c = Decoder.parseAvcc(track.avcc.get)
      var ref: Decoder.Yuv = null
      for (f <- 0 until n) {
        val yuv = Decoder.decode(track.sample(mp4, f), c, ref)
        ref = yuv
        val got = (yuv.y.map(_.toLong).sum, yuv.cb.map(_.toLong).sum,
          yuv.cr.map(_.toLong).sum)
        assert(got == H264FixtureSums.expectedSumsGop(d, f), s"doc=$d f=$f")
      }
    }
  }

  test("Mp4Frames random access walks back to the sync sample") {
    import graft.pack.FrameSource
    val d = 7L
    val n = 11
    val mp4 = H264Fixtures.videoGop(d, n)
    // only every 4th frame is sync
    val types = FrameSource.Mp4Frames.frameTypes(mp4)
    assert(types.zipWithIndex.forall { case (t, i) =>
      (t == 'I') == (i % 4 == 0) })
    // jump straight to the last frame (forces a fresh GOP walk), then
    // probe out-of-order and repeated indices against the closed form
    for (f <- Seq(n - 1, 5, 6, 2, 9, 9, 0, 10, 3)) {
      val img = graft.wds.Codecs.decodeImage(FrameSource.Mp4Frames.frame(mp4, f))
      assert(img.width == 16 && img.height == 16, s"f=$f")
      // luma sum survives the RGB roundtrip check indirectly: green
      // channel of BT.601 at uniform chroma is monotone in luma; use
      // the exact decoder for the strong check instead
      val track = Mp4Samples.parse(mp4).get
      val c = Decoder.parseAvcc(track.avcc.get)
      var ref: Decoder.Yuv = null
      var yuv: Decoder.Yuv = null
      for (j <- (f / 4 * 4) to f) {
        yuv = Decoder.decode(track.sample(mp4, j), c, ref)
        ref = yuv
      }
      assert(img.data.toSeq == Decoder.toRgb(yuv).toSeq, s"f=$f")
    }
  }

  test("mp4Gop end-to-end through Mp4Frames stays QP-bounded") {
    import graft.pack.FrameSource
    val frames = (0 until 6).map(i => frame(32, 32, 100 + i))
    val mp4 = Encoder.mp4Gop(frames, qp = 20, fps = 10, gop = 3,
      mvFor = i => ((i % 3) - 1, (i % 2) * 2))
    assert(FrameSource.Mp4Frames.frameCount(mp4) == 6)
    for (i <- 0 until 6) {
      val img = graft.wds.Codecs.decodeImage(FrameSource.Mp4Frames.frame(mp4, i))
      assert(img.width == 32 && img.height == 32)
    }
    // decoded luma of frame 4 (P) close to its source
    val track = Mp4Samples.parse(mp4).get
    val c = Decoder.parseAvcc(track.avcc.get)
    var ref: Decoder.Yuv = null
    var yuv: Decoder.Yuv = null
    for (j <- 3 to 4) {
      yuv = Decoder.decode(track.sample(mp4, j), c, ref)
      ref = yuv
    }
    var worst = 0
    for (py <- 0 until 32; px <- 0 until 32)
      worst = math.max(worst,
        math.abs(yuv.luma(px, py) - frames(4).y(py * 32 + px)))
    assert(worst <= 48, s"worst=$worst")
  }

  test("P slice without a reference is rejected; SP/SI stay typed") {
    val w = new BitWriter
    Encoder.writePSliceHeader(w, sps16, 1, 0, deblock = false)
    w.ue(1)
    val sample = Encoder.avccSampleP(w)
    intercept[IllegalArgumentException](Decoder.decode(sample, cfg(26)))
    // slice_type SP (3) -> typed UnsupportedFeature (B decodes for
    // real since round 8 — see H264BSpec)
    val wb = new BitWriter
    wb.ue(0); wb.ue(8) // first_mb, slice_type SP (all-slices form)
    wb.ue(0); wb.u(4, 0)
    wb.rbspTrailing()
    val nal = Nal.unit(3, 1, wb.toBytes)
    val bb = java.nio.ByteBuffer.allocate(4 + nal.length)
    bb.putInt(nal.length)
    bb.put(nal)
    intercept[UnsupportedFeature](Decoder.decode(bb.array(), cfg(26)))
  }
}
