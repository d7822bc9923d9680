package graft.multimodal.h264

import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.Mp4Samples

/** H.264 baseline I-frame codec laws.
  *
  * The VLC tables can't be cross-checked against a second decoder in
  * this environment (no ffmpeg — see SCALE.md "H.264 conformance"), so
  * the suite pins them three ways: (1) structural — every table is
  * prefix-free and its Kraft sum matches the spec's known completeness
  * shape, (2) roundtrip — encode/decode are exact inverses across the
  * whole parameter space, (3) hand vectors — deblocking and prediction
  * arithmetic reproduced from the spec formulas by hand.
  */
class H264Spec extends AnyFunSuite {

  // ---------- bit I/O ----------

  test("exp-golomb ue/se roundtrip 0..2000") {
    val w = new BitWriter
    (0 until 2000).foreach(w.ue)
    (-300 to 300).foreach(w.se)
    w.rbspTrailing()
    val r = new BitReader(w.toBytes)
    (0 until 2000).foreach(i => assert(r.ue() == i))
    (-300 to 300).foreach(i => assert(r.se() == i))
  }

  test("NAL escape/unescape roundtrip incl. start-code-like payloads") {
    val rnd = new scala.util.Random(7)
    val patterns = Seq[Array[Byte]](
      Array(0, 0, 0), Array(0, 0, 1), Array(0, 0, 2), Array(0, 0, 3),
      Array(0, 0, 0, 0, 0, 1, 0, 0, 2, 0, 0, 3, 3, 0, 0))
    (patterns ++ (0 until 50).map(_ =>
      Array.fill(40)(rnd.nextInt(4).toByte))).foreach { p =>
      val esc = Nal.escape(p)
      // escaped form never contains 00 00 0x with x <= 3
      esc.sliding(3).foreach(t =>
        if (t.length == 3 && t(0) == 0 && t(1) == 0)
          assert((t(2) & 0xff) > 3 || t(2) == 3))
      assert(Nal.unescape(esc).toSeq == p.toSeq)
    }
  }

  // ---------- VLC table structure ----------

  private def codesOf(t: Array[Array[String]]): Seq[String] =
    t.flatMap(_.filter(_.nonEmpty)).toSeq

  private def assertPrefixFree(codes: Seq[String], name: String): Unit =
    for (a <- codes; b <- codes if a != b)
      assert(!b.startsWith(a), s"$name: '$a' prefixes '$b'")

  private def kraft(codes: Seq[String]): BigDecimal =
    codes.map(c => BigDecimal(1) / BigDecimal(BigInt(1) << c.length)).sum

  test("coeff_token tables: prefix-free with the spec's Kraft structure") {
    val a = codesOf(Cavlc.CoeffTokenA)
    val b = codesOf(Cavlc.CoeffTokenB)
    val c = codesOf(Cavlc.CoeffTokenC)
    val dc = codesOf(Cavlc.CoeffTokenChromaDc)
    assertPrefixFree(a, "nC<2"); assertPrefixFree(b, "2<=nC<4")
    assertPrefixFree(c, "4<=nC<8"); assertPrefixFree(dc, "chromaDC")
    assert(a.size == 62 && b.size == 62 && c.size == 62 && dc.size == 14)
    // known completeness shapes: A leaves 2/65536, C leaves exactly
    // one 10-bit code, chroma-DC is complete, B leaves 3/16384
    assert(kraft(a) == BigDecimal(65534) / 65536, "table A Kraft")
    assert(kraft(c) == BigDecimal(1023) / 1024, "table C Kraft")
    assert(kraft(dc) == BigDecimal(1), "chroma-DC Kraft")
    assert(kraft(b) == BigDecimal(16381) / 16384, "table B Kraft")
  }

  test("total_zeros / run_before tables: prefix-free, complete rows") {
    Cavlc.TotalZeros.zipWithIndex.foreach { case (row, i) =>
      assertPrefixFree(row.toSeq, s"total_zeros tc=${i + 1}")
      assert(row.length == 16 - (i + 1) + 1, s"row size tc=${i + 1}")
      assert(row.toSet.size == row.length, s"duplicate code tc=${i + 1}")
      // every 4x4 total_zeros row is a COMPLETE prefix code in the spec
      // (tc=1 alone leaves "000000000" unused) — the strongest
      // structural pin available without a second decoder: one wrong
      // length breaks the sum, one wrong value collides or (with the
      // dup check) repeats
      val expected =
        if (i == 0) BigDecimal(511) / 512 else BigDecimal(1)
      assert(kraft(row.toSeq) == expected, s"Kraft tc=${i + 1}")
    }
    Cavlc.TotalZerosChromaDc.zipWithIndex.foreach { case (row, i) =>
      assertPrefixFree(row.toSeq, s"tz chroma tc=${i + 1}")
      assert(kraft(row.toSeq) == BigDecimal(1)) // complete codes
    }
    Cavlc.RunBefore.zipWithIndex.foreach { case (row, i) =>
      assertPrefixFree(row.toSeq, s"run_before zl=${i + 1}")
      if (i < 6) assert(kraft(row.toSeq) == BigDecimal(1))
    }
    // 4x4 total_zeros tc=2 row is a complete code (spec shape)
    assert(kraft(Cavlc.TotalZeros(1).toSeq) == BigDecimal(1))
  }

  test("CBP intra me(v) mapping is a permutation of 0..47") {
    val seen = (0 until 48).map(Decoder.cbpFromCodeNum)
    assert(seen.sorted == (0 until 48))
    (0 until 48).foreach(cbp =>
      assert(Decoder.cbpFromCodeNum(Decoder.codeNumFromCbp(cbp)) == cbp))
  }

  // ---------- CAVLC residual blocks ----------

  test("CAVLC block encode/decode roundtrip across nC / maxCoeffs space") {
    val rnd = new scala.util.Random(11)
    for {
      nC <- Seq(-1, 0, 1, 2, 3, 4, 5, 7, 8, 16)
      maxCoeffs <- Seq(16, 15, 4)
      if !(nC == -1 && maxCoeffs != 4) && !(nC != -1 && maxCoeffs == 4)
      trial <- 0 until 60
    } {
      val c = new Array[Int](maxCoeffs)
      val density = trial % 4 match {
        case 0 => 0.15; case 1 => 0.4; case 2 => 0.8; case _ => 1.0
      }
      var i = 0
      while (i < maxCoeffs) {
        if (rnd.nextDouble() < density) {
          val mag = trial % 5 match {
            case 4 => 1 + rnd.nextInt(3000) // forces prefix>=15 escapes
            case 3 => 1 + rnd.nextInt(200)
            case _ => 1 + rnd.nextInt(8)
          }
          c(i) = if (rnd.nextBoolean()) mag else -mag
        }
        i += 1
      }
      // encoder contract: clamp to <= 13 nonzero
      val nz = c.count(_ != 0)
      if (nz > 13) {
        val cutoff = c.filter(_ != 0).map(math.abs).sorted.apply(nz - 14)
        var k = 0
        var drop = nz - 13
        while (k < maxCoeffs && drop > 0) {
          if (c(k) != 0 && math.abs(c(k)) <= cutoff) { c(k) = 0; drop -= 1 }
          k += 1
        }
      }
      val w = new BitWriter
      Cavlc.writeBlock(w, nC, maxCoeffs, c)
      w.rbspTrailing()
      val blk = Cavlc.readBlock(new BitReader(w.toBytes), nC, maxCoeffs)
      assert(blk.coeffs.toSeq == c.toSeq,
        s"nC=$nC max=$maxCoeffs trial=$trial: ${c.toSeq} != ${blk.coeffs.toSeq}")
      assert(blk.totalCoeff == c.count(_ != 0))
    }
  }

  // ---------- transforms ----------

  test("4x4 Hadamard is self-inverse up to the 16x scale") {
    val rnd = new scala.util.Random(3)
    (0 until 20).foreach { _ =>
      val d = Array.fill(16)(rnd.nextInt(512) - 256)
      val back = Transform.hadamard4x4(Transform.hadamard4x4(d))
      assert(back.toSeq == d.map(_ * 16).toSeq)
    }
  }

  test("forward -> quant -> dequant -> inverse error is QP-bounded") {
    val rnd = new scala.util.Random(5)
    for (qp <- Seq(0, 8, 16, 24, 30); _ <- 0 until 40) {
      val res = Array.fill(16)(rnd.nextInt(256) - 128)
      val wc = Transform.forward4x4(res)
      val lev = new Array[Int](16)
      var i = 0
      while (i < 16) {
        lev(i) = Transform.quantAc(wc(i), qp, i / 4, i % 4)
        i += 1
      }
      Transform.dequant4x4(lev, qp, skipDc = false)
      val back = Transform.inverse4x4(lev)
      // quant step ~ 2^(qp/6) * 0.625; transform gain <= 4
      val bound = math.max(2, (1 << (qp / 6)) * 3)
      i = 0
      while (i < 16) {
        assert(math.abs(back(i) - res(i)) <= bound,
          s"qp=$qp pos=$i ${back(i)} vs ${res(i)}")
        i += 1
      }
    }
  }

  // ---------- intra prediction hand vectors ----------

  test("Intra_4x4 V/H/DC/DDL match hand-computed spec arithmetic") {
    // plane: 5x5 with block at (1,1); top row 10,20,30,40 then 50..80
    // (top-right), left column 5,15,25,35, corner 7
    val stride = 9
    val plane = new Array[Int](stride * 9)
    val top = Array(10, 20, 30, 40, 50, 60, 70, 80)
    (0 until 8).foreach(i => plane(0 * stride + 1 + i) = top(i))
    plane(0) = 7
    val left = Array(5, 15, 25, 35)
    (0 until 4).foreach(i => plane((1 + i) * stride) = left(i))
    val n = new Predict.Nbr4(plane, stride, 1, 1, true, true, true, true)
    val out = new Array[Int](16)
    Predict.intra4x4(Predict.V, n, out)
    assert(out.toSeq == Seq(10, 20, 30, 40, 10, 20, 30, 40, 10, 20, 30, 40, 10, 20, 30, 40))
    Predict.intra4x4(Predict.H, n, out)
    assert(out.toSeq == Seq(5, 5, 5, 5, 15, 15, 15, 15, 25, 25, 25, 25, 35, 35, 35, 35))
    Predict.intra4x4(Predict.DC, n, out)
    val dc = (10 + 20 + 30 + 40 + 5 + 15 + 25 + 35 + 4) >> 3 // = 23
    assert(out.forall(_ == dc) && dc == 23)
    Predict.intra4x4(Predict.DDL, n, out)
    // pred[0,0] = (t0 + 2 t1 + t2 + 2) >> 2 = (10+40+30+2)>>2 = 20
    assert(out(0) == 20)
    // pred[3,3] = (t6 + 3 t7 + 2) >> 2 = (70+240+2)>>2 = 78
    assert(out(15) == 78)
    // pred[1,2] (x=1,y=2) = (t3+2t4+t5+2)>>2 = (40+100+60+2)>>2 = 50
    assert(out(2 * 4 + 1) == 50)
  }

  test("unavailable top-right substitutes top(3) (8.3.1.2)") {
    val stride = 9
    val plane = new Array[Int](stride * 9)
    (0 until 4).foreach(i => plane(1 + i) = 40) // top present
    val n = new Predict.Nbr4(plane, stride, 1, 1, false, true, false, false)
    val out = new Array[Int](16)
    Predict.intra4x4(Predict.DDL, n, out)
    assert(out.forall(_ == 40)) // all-constant top extension
  }

  // ---------- deblocking hand vectors ----------

  test("bS=4 MB-edge strong filter matches hand-computed spec values") {
    val mbW = 2; val mbH = 1
    val y = Array.tabulate(32 * 16)(i => if (i % 32 < 16) 60 else 68)
    val cb = Array.tabulate(16 * 8)(i => if (i % 16 < 8) 60 else 68)
    val cr = cb.clone()
    Deblock.frame(y, cb, cr, mbW, mbH, Array(36, 36), 0, 0, 0)
    // luma row 0: p2' p1' p0' | q0' q1' q2' = 61 62 63 | 65 66 67
    val row = (13 to 18).map(x => y(x))
    assert(row == Seq(61, 62, 63, 65, 66, 67), s"luma $row")
    assert(y(12) == 60 && y(19) == 68)
    // all rows identical
    (0 until 16).foreach(r =>
      assert((13 to 18).map(x => y(r * 32 + x)) == Seq(61, 62, 63, 65, 66, 67)))
    // chroma (qpc = 34): p0' = 62, q0' = 66, p1/q1 untouched
    val crow = (6 to 9).map(x => cb(x))
    assert(crow == Seq(60, 62, 66, 68), s"chroma $crow")
  }

  test("bS=3 internal edge matches hand-computed spec values") {
    val y = Array.tabulate(16 * 16)(i => if (i % 16 < 8) 80 else 90)
    val cb = Array.fill(8 * 8)(128)
    val cr = cb.clone()
    Deblock.frame(y, cb, cr, 1, 1, Array(30), 0, 0, 0)
    val row = (5 to 10).map(x => y(x))
    // x=8 edge: tc0=2, ap=aq -> tc=4: delta=4, p1'=82, q1'=88; then the
    // x=12 edge reads col9's ALREADY-FILTERED 88 as its p2 -> ap fires
    // with everything else flat -> p1'(col10) = 90 + ((88+90-180)>>1) = 89
    // (spec 8.7: later edges filter already-filtered samples)
    assert(row == Seq(80, 82, 84, 86, 88, 89), s"$row")
    assert(cb.forall(_ == 128)) // uniform chroma untouched
  }

  test("deblock is the identity on uniform planes") {
    val y = Array.fill(32 * 32)(99)
    val cb = Array.fill(16 * 16)(77)
    val cr = Array.fill(16 * 16)(55)
    Deblock.frame(y, cb, cr, 2, 2, Array(30, 30, 30, 30), 0, 0, 0)
    assert(y.forall(_ == 99) && cb.forall(_ == 77) && cr.forall(_ == 55))
  }

  // ---------- encoder/decoder roundtrips ----------

  /** smooth gradient + mild noise, no 255->0 wrap cliffs (a wrap edge
    * inside an MB concentrates clamp error and tests nothing useful) */
  private def gradientFrame(w: Int, h: Int, seed: Int): Encoder.Frame = {
    val rnd = new scala.util.Random(seed)
    Encoder.Frame(w, h,
      Array.tabulate(w * h)(i =>
        math.min(245, (i % w) * 2 + (i / w) + rnd.nextInt(9) + 40)),
      Array.tabulate(w * h / 4)(i =>
        math.min(245, 90 + (i % (w / 2)) * 2 + rnd.nextInt(5))),
      Array.tabulate(w * h / 4)(i =>
        math.min(245, 140 + (i / (w / 2)) * 2 + rnd.nextInt(5))))
  }

  private def decodeSample(sample: Array[Byte], w: Int, h: Int,
      qp: Int): Decoder.Yuv =
    Decoder.decode(sample,
      Decoder.AvcConfig(Encoder.spsFor(w, h), Encoder.ppsFor(qp), 4))

  test("all-I_PCM encode/decode roundtrip is bit-exact") {
    val f = gradientFrame(48, 32, 1)
    val yuv = decodeSample(Encoder.encodeFrame(f, qp = 30, pcmEvery = 1),
      48, 32, 30)
    assert(yuv.width == 48 && yuv.height == 32)
    for (py <- 0 until 32; px <- 0 until 48)
      assert(yuv.luma(px, py) == f.y(py * 48 + px), s"($px,$py)")
    for (py <- 0 until 16; px <- 0 until 24) {
      assert(yuv.cb(py * yuv.strideC + px) == f.cb(py * 24 + px))
      assert(yuv.cr(py * yuv.strideC + px) == f.cr(py * 24 + px))
    }
  }

  test("Intra_16x16 encode/decode stays within QP-dependent error") {
    for ((qp, meanBound, maxBound) <- Seq((8, 3.0, 12), (20, 8.0, 28),
      (30, 16.0, 56))) {
      val f = gradientFrame(64, 48, qp)
      val yuv = decodeSample(Encoder.encodeFrame(f, qp), 64, 48, qp)
      var sum = 0L
      var worst = 0
      for (py <- 0 until 48; px <- 0 until 64) {
        val e = math.abs(yuv.luma(px, py) - f.y(py * 64 + px))
        sum += e
        worst = math.max(worst, e)
      }
      val mean = sum.toDouble / (64 * 48)
      assert(mean <= meanBound, s"qp=$qp mean=$mean")
      assert(worst <= maxBound, s"qp=$qp worst=$worst")
    }
  }

  test("PCM/I16 mix with cropping decodes (44x28, 3x2 MBs)") {
    val f = gradientFrame(44, 28, 9)
    val yuv = decodeSample(Encoder.encodeFrame(f, qp = 20, pcmEvery = 3),
      44, 28, 20)
    assert(yuv.width == 44 && yuv.height == 28 && yuv.mbW == 3 && yuv.mbH == 2)
    // PCM MBs (0, 3) are exact even amid lossy neighbors
    for (py <- 0 until 16; px <- 0 until 16)
      assert(yuv.luma(px, py) == f.y(py * 44 + px))
  }

  test("deblock on/off bitstreams both decode; filtering changes edges") {
    val f = gradientFrame(32, 32, 4)
    val on = decodeSample(Encoder.encodeFrame(f, 30, deblock = true), 32, 32, 30)
    val off = decodeSample(Encoder.encodeFrame(f, 30, deblock = false), 32, 32, 30)
    assert(on.y.length == off.y.length)
    // same content pre-filter; the loop filter must touch something at qp 30
    assert(!(on.y sameElements off.y))
  }

  test("Intra_4x4 mode plumbing: each mode decodes through a real slice") {
    // one MB; block z3 (1,1) has left/top/top-left inside the MB
    for (mode <- 0 to 8) {
      val sps = Encoder.spsFor(16, 16)
      val w = new BitWriter
      Encoder.writeSliceHeader(w, sps, 0, 0, deblock = true)
      w.ue(0) // I_NxN
      (0 until 16).foreach { k =>
        if (k == 3) {
          // predicted mode for z3 is min(z2, z1 modes) = min(2,2) = 2
          if (mode == 2) w.u1(1)
          else {
            w.u1(0)
            w.u(3, if (mode < 2) mode else mode - 1)
          }
        } else w.u1(1) // DC
      }
      w.ue(0) // chroma DC
      w.ue(Decoder.codeNumFromCbp(0)) // no residual
      val yuv = Decoder.decode(Encoder.avccSample(w),
        Decoder.AvcConfig(sps, Encoder.ppsFor(26), 4))
      // zero residual + no neighbors -> first blocks are 128; any mode
      // over uniform 128 neighbors predicts 128
      assert(yuv.y.forall(_ == 128), s"mode $mode")
    }
  }

  // ---------- fixtures: analytic truth ----------

  test("H264Fixtures decode to their closed-form plane sums") {
    for (d <- 0L until 30L) {
      val n = 4 + (d % 3).toInt
      val mp4 = H264Fixtures.video(d, n)
      val track = Mp4Samples.parse(mp4).get
      assert(track.codec == "avc1" && track.avcc.isDefined)
      val cfg = Decoder.parseAvcc(track.avcc.get)
      assert(cfg.sps.width == 16 && cfg.sps.height == 16)
      for (f <- 0 until n) {
        val yuv = Decoder.decode(track.sample(mp4, f), cfg)
        val got = (yuv.y.map(_.toLong).sum, yuv.cb.map(_.toLong).sum,
          yuv.cr.map(_.toLong).sum)
        assert(got == H264FixtureSums.expectedSums(d, f), s"doc=$d f=$f")
      }
    }
  }

  // ---------- the FrameSource seam ----------

  test("Mp4Frames decodes avc1 to PNG pixels matching Decoder.toRgb") {
    import graft.pack.FrameSource
    val f = gradientFrame(32, 16, 2)
    val mp4 = Encoder.mp4(Seq(f, f), qp = 24, fps = 5)
    assert(FrameSource.Mp4Frames.frameCount(mp4) == 2)
    val png = FrameSource.Mp4Frames.frame(mp4, 0)
    val img = graft.wds.Codecs.decodeImage(png)
    assert(img.width == 32 && img.height == 16)
    val yuv = decodeSample(Encoder.encodeFrame(f, 24), 32, 16, 24)
    assert(img.data.toSeq == Decoder.toRgb(yuv).toSeq)
  }

  test("non-baseline features stay a typed unsupported-codec signal") {
    import graft.pack.FrameSource
    val f = gradientFrame(16, 16, 6)
    val sps = Encoder.spsFor(16, 16)
    // CABAC pps: entropy_coding_mode_flag = 1
    val cabacPps = {
      val w = new BitWriter
      w.ue(0); w.ue(0); w.u1(1); w.u1(0); w.ue(0); w.ue(0); w.ue(0)
      w.u1(0); w.u(2, 0); w.se(0); w.se(0); w.se(0); w.u1(0); w.u1(0)
      w.u1(0)
      w.rbspTrailing()
      w.toBytes
    }
    val avcc = {
      val good = Encoder.avccPayload(sps, Encoder.ppsFor(26))
      // rebuild with the CABAC PPS
      val spsNal = Nal.unit(3, 7, Sps.write(sps))
      val ppsNal = Nal.unit(3, 8, cabacPps)
      val out = new java.io.ByteArrayOutputStream()
      out.write(good, 0, 5)
      out.write(0xe1)
      out.write(spsNal.length >> 8); out.write(spsNal.length & 0xff)
      out.write(spsNal, 0, spsNal.length)
      out.write(1)
      out.write(ppsNal.length >> 8); out.write(ppsNal.length & 0xff)
      out.write(ppsNal, 0, ppsNal.length)
      out.toByteArray
    }
    val sample = Encoder.encodeFrame(f, 26)
    val mp4 = Mp4Samples.encodeFrames(Seq(sample), "avc1", 5, 16, 16, 1,
      sampleEntryExtension = {
        val b = java.nio.ByteBuffer.allocate(8 + avcc.length)
        b.putInt(8 + avcc.length)
        b.put("avcC".getBytes("US-ASCII"))
        b.put(avcc)
        b.array()
      })
    val e = intercept[FrameSource.UnsupportedCodecException](
      FrameSource.Mp4Frames.frame(mp4, 0))
    assert(e.codec.contains("avc1"))
    // and an avc1 container with no avcC at all
    val bare = Mp4Samples.encodeFrames(Seq(sample), "avc1", 5, 16, 16)
    intercept[FrameSource.UnsupportedCodecException](
      FrameSource.Mp4Frames.frame(bare, 0))
  }
}
