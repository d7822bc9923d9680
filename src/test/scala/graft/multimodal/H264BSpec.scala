package graft.multimodal.h264

import graft.multimodal.Mp4Samples
import org.scalatest.funsuite.AnyFunSuite

/** B-slice (CAVLC) decode: two reference lists, bi-prediction
  * averaging, spatial direct mode (incl. colocated-zero refinement
  * against the stored motion of list1(0)), B_Skip, two-partition B
  * macroblock types, the display/decode reorder through ctts, and the
  * POC-ordered list construction in the FrameSource walk. */
class H264BSpec extends AnyFunSuite {

  private def cfg(qp: Int, sps: Sps) =
    Decoder.AvcConfig(sps, Encoder.ppsFor(qp), 4)

  private def uniformRef(v: Int, mbW: Int = 1, mbH: Int = 1,
      poc: Int = 0): Decoder.Yuv =
    Decoder.Yuv(mbW * 16, mbH * 16, mbW, mbH,
      Array.fill(mbW * mbH * 256)(v), Array.fill(mbW * mbH * 64)(128),
      Array.fill(mbW * mbH * 64)(128), poc = poc)

  test("B_L0 / B_L1 / B_Bi 16x16 pick the right list and average") {
    val sps = Encoder.spsFor(16, 16, numRefFrames = 2)
    val a = uniformRef(60)
    val b = uniformRef(201)
    def bSample(mbType: Int): Array[Byte] = {
      val w = new BitWriter
      Encoder.writeBSliceHeader(w, sps, 2, 2, 0, deblock = true)
      w.ue(0) // mb_skip_run
      w.ue(mbType)
      if (mbType == 1 || mbType == 3) { w.se(0); w.se(0) }
      if (mbType == 2 || mbType == 3) { w.se(0); w.se(0) }
      w.ue(Decoder.codeNumFromCbpInter(0))
      Encoder.avccSampleB(w)
    }
    val c = cfg(26, sps)
    assert(Decoder.decode(bSample(1), c, Vector(a, b), Vector(b, a))
      .y.forall(_ == 60))
    assert(Decoder.decode(bSample(2), c, Vector(a, b), Vector(b, a))
      .y.forall(_ == 201))
    val bi = Decoder.decode(bSample(3), c, Vector(a, b), Vector(b, a))
    assert(bi.y.forall(_ == ((60 + 201 + 1) >> 1)))
    assert(bi.cb.forall(_ == 128))
  }

  test("B_Skip with no neighbors = directZeroPrediction = bi average") {
    val sps = Encoder.spsFor(16, 16, numRefFrames = 2)
    val a = uniformRef(80)
    val b = uniformRef(120)
    val w = new BitWriter
    Encoder.writeBSliceHeader(w, sps, 2, 2, 0, deblock = true)
    w.ue(1) // mb_skip_run covering the single MB
    val out = Decoder.decode(Encoder.avccSampleB(w), cfg(26, sps),
      Vector(a, b), Vector(b, a))
    assert(out.y.forall(_ == ((80 + 120 + 1) >> 1)))
  }

  test("two-partition B types route each partition's list") {
    val sps = Encoder.spsFor(32, 16, numRefFrames = 2) // 2 MBs wide
    val a = uniformRef(50, mbW = 2)
    val b = uniformRef(180, mbW = 2)
    // one MB: B_L0_L1_16x8 (mb_type 8): top 16x8 from L0, bottom from
    // L1 — then a second MB B_L1_L0_8x16 (mb_type 11): left 8x16 from
    // L1, right from L0
    val w = new BitWriter
    Encoder.writeBSliceHeader(w, sps, 2, 2, 0, deblock = false)
    w.ue(0); w.ue(8) // B_L0_L1_16x8
    w.se(0); w.se(0) // mvd_l0 partition 0
    w.se(0); w.se(0) // mvd_l1 partition 1
    w.ue(Decoder.codeNumFromCbpInter(0))
    w.ue(0); w.ue(11) // B_L1_L0_8x16
    w.se(0); w.se(0) // mvd_l0 partition 1 (right)
    w.se(0); w.se(0) // mvd_l1 partition 0 (left)
    w.ue(Decoder.codeNumFromCbpInter(0))
    val out = Decoder.decode(Encoder.avccSampleB(w), cfg(26, sps),
      Vector(a, b), Vector(b, a))
    // MB0: top rows L0 (50), bottom rows L1 (180)
    assert(out.luma(0, 0) == 50 && out.luma(15, 7) == 50)
    assert(out.luma(0, 8) == 180 && out.luma(15, 15) == 180)
    // MB1: left half L1 (180), right half L0 (50)
    assert(out.luma(16, 0) == 180 && out.luma(23, 15) == 180)
    assert(out.luma(24, 0) == 50 && out.luma(31, 8) == 50)
  }

  test("spatial direct with neighbors: uni-direct + colocated zero") {
    val sps = Encoder.spsFor(32, 16, numRefFrames = 2)
    val qp = 26
    // colocated picture (list1(0)) carries motion: build it by
    // decoding a P picture whose MB1 has a LARGE mv (no colZero) vs a
    // small one (colZero) — here: P with all-MB mv (8, 0) -> colRef 0,
    // |mv| > 1 -> colZero false -> direct uses the neighbor median MV
    val ref0 = uniformRef(90, mbW = 2, poc = 0)
    val pBig = {
      val w = new BitWriter
      Encoder.writePSliceHeader(w, sps, 1, 0, deblock = false,
        pocLsbOverride = 4)
      var mb = 0
      while (mb < 2) {
        w.ue(0) // skip run
        w.ue(0) // P_L0_16x16
        w.se(if (mb == 0) 8 else 0); w.se(0) // mv (8,0) then mvp carries
        w.ue(Decoder.codeNumFromCbpInter(0))
        mb += 1
      }
      Encoder.avccSampleP(w)
    }
    val colBig = Decoder.decode(pBig, cfg(qp, sps), Vector(ref0))
      .copy(poc = 4)
    assert(colBig.motion.ref0(0) == 0 && colBig.motion.mvx0(0) == 8)
    // B picture: MB0 = B_L0_16x16 with mv (4,0); MB1 = B_Skip ->
    // spatial direct: neighbor A (MB0) gives refIdxL0 = 0, refIdxL1 =
    // -1 (uni-direct), median MV from A -> (4, 0); colZero is FALSE
    // (col mv (8,0)), so the MV stays (4,0)
    val w = new BitWriter
    Encoder.writeBSliceHeader(w, sps, 2, 2, 0, deblock = false)
    w.ue(0); w.ue(1) // B_L0_16x16
    w.se(4); w.se(0) // mvd = mv (no neighbors)
    w.ue(Decoder.codeNumFromCbpInter(0))
    w.ue(1) // mb_skip_run: B_Skip over MB1
    val sB = Encoder.avccSampleB(w)
    val out = Decoder.decode(sB, cfg(qp, sps),
      Vector(ref0, colBig), Vector(colBig, ref0))
    // uniform reference: any MV lands on 90 — instead assert via the
    // stored motion that direct derived refIdx 0 / mv (4,0) uni-L0
    assert(out.motion.ref0(4) == 0) // MB1 first block, list0
    assert(out.motion.mvx0(4) == 4 && out.motion.mvy0(4) == 0)
    assert(out.motion.ref1(4) < 0) // list1 unused (uni-direct)
    assert(out.y.forall(_ == 90))

    // now the colZero variant: col motion is (0,0) with refIdx 0 ->
    // colZero true -> direct MV forced to (0,0) even though the
    // neighbor median is (4,0)
    val pZero = {
      val w2 = new BitWriter
      Encoder.writePSliceHeader(w2, sps, 1, 0, deblock = false,
        pocLsbOverride = 4)
      w2.ue(2) // both MBs P_Skip (mv 0)
      Encoder.avccSampleP(w2)
    }
    val colZero = Decoder.decode(pZero, cfg(qp, sps), Vector(ref0))
      .copy(poc = 4)
    assert(colZero.motion.ref0(0) == 0 && colZero.motion.mvx0(0) == 0)
    val out2 = Decoder.decode(sB, cfg(qp, sps),
      Vector(ref0, colZero), Vector(colZero, ref0))
    assert(out2.motion.ref0(4) == 0)
    assert(out2.motion.mvx0(4) == 0 && out2.motion.mvy0(4) == 0)
  }

  test("videoB frames decode to their closed-form sums (display order)") {
    import graft.pack.FrameSource
    for (d <- 0L until 12L) {
      val n = 9 + 3 * (d % 3).toInt
      val mp4 = H264Fixtures.videoB(d, n)
      val t = Mp4Samples.parse(mp4).get
      assert(t.cts.nonEmpty, "B fixture must carry ctts")
      for (f <- 0 until n) {
        val img = graft.wds.Codecs.decodeImage(
          FrameSource.Mp4Frames.frame(mp4, f))
        val rSum = img.data.grouped(3).map(p => (p(0) & 0xff).toLong).sum
        val (ySum, _, _) = H264FixtureSums.expectedSumsB(d, f)
        assert(rSum == ySum, s"doc=$d display=$f")
      }
    }
  }

  test("videoB random access: backward display jumps re-walk correctly") {
    import graft.pack.FrameSource
    val d = 5L
    val n = 12
    val mp4 = H264Fixtures.videoB(d, n)
    for (f <- Seq(10, 4, 5, 3, 11, 0, 7, 1, 1, 8)) {
      val img = graft.wds.Codecs.decodeImage(
        FrameSource.Mp4Frames.frame(mp4, f))
      val rSum = img.data.grouped(3).map(p => (p(0) & 0xff).toLong).sum
      assert(rSum == H264FixtureSums.expectedSumsB(d, f)._1, s"f=$f")
    }
    // keyframe types are display-order: I at display 0, 3, 6, 9
    assert(FrameSource.Mp4Frames.frameTypes(mp4) ==
      IndexedSeq('I', 'P', 'P', 'I', 'P', 'P', 'I', 'P', 'P', 'I', 'P', 'P'))
  }

  test("B_8x8 sub-partitions: direct, uni, bi, and 8x4/4x4 shapes") {
    val sps = Encoder.spsFor(16, 16, numRefFrames = 2)
    val a = uniformRef(40)
    val b = uniformRef(200)
    // one MB, four 8x8s: q0 B_Direct_8x8 (no neighbors ->
    // directZeroPrediction -> bi average), q1 B_L0_8x8, q2 B_Bi_8x4
    // (two mvd_l0 + two mvd_l1), q3 B_L1_4x4 (four mvd_l1)
    val w = new BitWriter
    Encoder.writeBSliceHeader(w, sps, 2, 2, 0, deblock = false)
    w.ue(0) // mb_skip_run
    w.ue(22) // B_8x8
    w.ue(0); w.ue(1); w.ue(8); w.ue(11) // sub_mb_types
    // ref_idx passes absent (1 active per list)
    // mvd_l0 pass: q1 (one), q2 (two)
    w.se(0); w.se(0)
    w.se(0); w.se(0); w.se(0); w.se(0)
    // mvd_l1 pass: q2 (two), q3 (four)
    w.se(0); w.se(0); w.se(0); w.se(0)
    var i = 0
    while (i < 8) { w.se(0); i += 1 }
    w.ue(Decoder.codeNumFromCbpInter(0))
    val out = Decoder.decode(Encoder.avccSampleB(w), cfg(26, sps),
      Vector(a, b), Vector(b, a))
    val avg = (40 + 200 + 1) >> 1
    // q0 (top-left): direct zero prediction = bi average
    assert(out.luma(0, 0) == avg && out.luma(7, 7) == avg)
    // q1 (top-right): L0 = 40
    assert(out.luma(8, 0) == 40 && out.luma(15, 7) == 40)
    // q2 (bottom-left): bi = average
    assert(out.luma(0, 8) == avg && out.luma(7, 15) == avg)
    // q3 (bottom-right): L1 = 200
    assert(out.luma(8, 8) == 200 && out.luma(15, 15) == 200)
    // motion grids: q1 list1 unused, q3 list0 unused
    assert(out.motion.ref0(2) == 0 && out.motion.ref1(2) < 0)
    assert(out.motion.ref1(2 * 4 + 2) == 0 &&
      out.motion.ref0(2 * 4 + 2) < 0)
  }

  test("multi-slice B pictures keep slice-local availability") {
    // two MBs, one slice per MB (the encoder-parallelism layout):
    // slice A = B_L0_16x16 copying list0(0); slice B = B_Skip, whose
    // spatial direct must NOT see slice A's motion (6.4.9) — with no
    // available neighbors it takes directZeroPrediction (bi average)
    // rather than inheriting A's L0-only uni-prediction
    val sps = Encoder.spsFor(32, 16, numRefFrames = 2)
    val a = uniformRef(40, mbW = 2)
    val b = uniformRef(200, mbW = 2)
    val wA = new BitWriter
    Encoder.writeBSliceHeader(wA, sps, 2, 2, 0, deblock = false,
      firstMb = 0)
    wA.ue(0); wA.ue(1) // B_L0_16x16
    wA.se(0); wA.se(0)
    wA.ue(Decoder.codeNumFromCbpInter(0))
    val wB = new BitWriter
    Encoder.writeBSliceHeader(wB, sps, 2, 2, 0, deblock = false,
      firstMb = 1)
    wB.ue(1) // mb_skip_run covering MB1 -> B_Skip (direct)
    val sample = Encoder.avccSampleMulti(Seq(wA, wB), nalType = 1,
      refIdc = 0) // non-reference B, matching writeBSliceHeader
    val out = Decoder.decode(sample, cfg(26, sps),
      Vector(a, b), Vector(b, a))
    // MB0: L0 copy = 40
    assert(out.luma(0, 0) == 40 && out.luma(15, 15) == 40)
    // MB1: slice-local direct -> zero prediction -> bi average, NOT 40
    val avg = (40 + 200 + 1) >> 1
    assert(out.luma(16, 0) == avg && out.luma(31, 15) == avg)
    assert(out.motion.ref0(4) == 0 && out.motion.ref1(4) == 0)
  }

  test("temporal direct scales the colocated MV by POC distances") {
    val sps = Encoder.spsFor(16, 16, numRefFrames = 2)
    val qp = 26
    val ref0 = uniformRef(90, poc = 0)
    // colocated picture: P at poc 8 whose MB carries mv (16, 8) -> its
    // Motion stores refPoc 0 for the walk-independent POC mapping
    val pw = new BitWriter
    Encoder.writePSliceHeader(pw, sps, 1, 0, deblock = false,
      pocLsbOverride = 8)
    pw.ue(0); pw.ue(0) // skip run, P_L0_16x16
    pw.se(16); pw.se(8)
    pw.ue(Decoder.codeNumFromCbpInter(0))
    val colPic = Decoder.decode(Encoder.avccSampleP(pw), cfg(qp, sps),
      Vector(ref0)).copy(poc = 8)
    assert(colPic.motion.refPoc0(0) == 0)
    // B at poc 4, temporal direct B_Skip: td = 8, tb = 4 -> the MV
    // splits at the midpoint: mvL0 = (8, 4), mvL1 = mvL0 - mvCol =
    // (-8, -4) (8.4.1.2.3 integer chain: tx = 2048, dsf = 128)
    val bw = new BitWriter
    Encoder.writeBSliceHeader(bw, sps, 2, 4, 0, deblock = false,
      spatialDirect = false)
    bw.ue(1) // mb_skip_run over the single MB
    val sTd = Encoder.avccSampleB(bw)
    val out = Decoder.decode(sTd, cfg(qp, sps),
      Vector(ref0), Vector(colPic), 4)
    assert(out.motion.ref0(0) == 0 && out.motion.ref1(0) == 0)
    assert(out.motion.mvx0(0) == 8 && out.motion.mvy0(0) == 4)
    assert(out.motion.mvx1(0) == -8 && out.motion.mvy1(0) == -4)
    // colocated INTRA -> mvCol treated as 0, refIdxL0 = 0, zero MVs
    val iPic = {
      val iw = new BitWriter
      Encoder.writeSliceHeader(iw, sps, 0, 0, deblock = false)
      iw.ue(3) // I_16x16 DC, cbp 0
      iw.ue(0); iw.se(0)
      val dc = new Array[Int](16); dc(0) = 2
      Cavlc.writeBlock(iw, 0, 16, dc)
      Decoder.decode(Encoder.avccSample(iw), cfg(qp, sps)).copy(poc = 8)
    }
    val out2 = Decoder.decode(sTd, cfg(qp, sps),
      Vector(ref0), Vector(iPic), 4)
    assert(out2.motion.mvx0(0) == 0 && out2.motion.mvy0(0) == 0)
    assert(out2.motion.mvx1(0) == 0 && out2.motion.mvy1(0) == 0)
    // without a POC (sentinel), temporal direct stays a typed signal
    val ex = intercept[UnsupportedFeature] {
      Decoder.decode(sTd, cfg(qp, sps), Vector(ref0), Vector(colPic))
    }
    assert(ex.feature.contains("temporal direct"))
  }
}
