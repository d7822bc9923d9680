package graft.multimodal.h264

import graft.multimodal.Mp4Samples

/** Fixture-grade H.264 baseline encoder: YUV 4:2:0 planes → AVCC
  * samples → avc1 MP4 (with the avcC config in stsd). Every emitted
  * stream is conformant constrained-baseline: IDR pictures of
  * Intra_16x16 (V/H/DC/Plane chosen by SAD) or I_PCM macroblocks, P
  * pictures of P_L0_16x16 / P_Skip macroblocks at a constant MV, CAVLC
  * residuals (luma DC Hadamard path + AC, chroma DC + AC), one or more
  * slices per picture. The DECODER ([[Decoder]]) is the product; this
  * exists so the repo can commit real avc1 fixtures without ffmpeg (the
  * reference generates its test media with ffmpeg,
  * `pack/tools.py:101-140`).
  *
  * Conformance guard: quantized blocks are clamped to TotalCoeff <= 13
  * (smallest levels zeroed — a legal lossy choice) so no stream
  * depends on the low-confidence rows 14-16 of the 2<=nC<4
  * coeff_token table (see [[Cavlc]]).
  */
object Encoder {

  /** planar 4:2:0 frame; y is width*height, cb/cr (width/2)*(height/2) */
  final case class Frame(width: Int, height: Int, y: Array[Int],
      cb: Array[Int], cr: Array[Int]) {
    require(width % 2 == 0 && height % 2 == 0, "even dims required (4:2:0)")
    require(y.length == width * height && cb.length == width * height / 4 &&
      cr.length == width * height / 4, "plane sizes")
  }

  @inline private def clip(v: Int): Int =
    if (v < 0) 0 else if (v > 255) 255 else v

  private def zIndex: Array[(Int, Int)] = Array(
    (0, 0), (1, 0), (0, 1), (1, 1), (2, 0), (3, 0), (2, 1), (3, 1),
    (0, 2), (1, 2), (0, 3), (1, 3), (2, 2), (3, 2), (2, 3), (3, 3))

  def spsFor(width: Int, height: Int, numRefFrames: Int = 1): Sps = {
    val mbW = (width + 15) / 16
    val mbH = (height + 15) / 16
    Sps(profileIdc = 66, levelIdc = 10, log2MaxFrameNum = 4,
      picOrderCntType = 0, log2MaxPocLsb = 4, mbWidth = mbW,
      mbHeight = mbH, cropLeft = 0, cropRight = (mbW * 16 - width) / 2,
      cropTop = 0, cropBottom = (mbH * 16 - height) / 2,
      maxNumRefFrames = numRefFrames)
  }

  def ppsFor(qp: Int, weightedPred: Boolean = false,
      weightedBipredIdc: Int = 0): Pps =
    Pps(entropyCodingMode = 0, picInitQp = qp, chromaQpOffset = 0,
      deblockingFilterControlPresent = true,
      weightedPred = weightedPred,
      weightedBipredIdc = weightedBipredIdc)

  /** the avcC box payload for an SPS/PPS pair, 4-byte NAL lengths */
  def avccPayload(sps: Sps, pps: Pps): Array[Byte] = {
    val spsNal = Nal.unit(3, 7, Sps.write(sps))
    val ppsNal = Nal.unit(3, 8, Pps.write(pps))
    val out = new java.io.ByteArrayOutputStream()
    out.write(1) // configurationVersion
    out.write(sps.profileIdc)
    out.write(0x40) // profile_compatibility (constraint_set1)
    out.write(sps.levelIdc)
    out.write(0xfc | 3) // lengthSizeMinusOne = 3
    out.write(0xe0 | 1) // numOfSequenceParameterSets = 1
    out.write(spsNal.length >> 8); out.write(spsNal.length & 0xff)
    out.write(spsNal, 0, spsNal.length)
    out.write(1) // numOfPictureParameterSets
    out.write(ppsNal.length >> 8); out.write(ppsNal.length & 0xff)
    out.write(ppsNal, 0, ppsNal.length)
    out.toByteArray
  }

  /** the full avcC box (header + payload) for the stsd extension */
  def avccBox(sps: Sps, pps: Pps): Array[Byte] = {
    val p = avccPayload(sps, pps)
    val b = java.nio.ByteBuffer.allocate(8 + p.length)
    b.putInt(8 + p.length)
    b.put("avcC".getBytes("US-ASCII"))
    b.put(p)
    b.array()
  }

  /** pad a plane to MB-aligned dims by edge replication */
  private def padPlane(src: Array[Int], w: Int, h: Int, pw: Int,
      ph: Int): Array[Int] = {
    val out = new Array[Int](pw * ph)
    var y = 0
    while (y < ph) {
      val sy = math.min(y, h - 1)
      var x = 0
      while (x < pw) {
        out(y * pw + x) = src(sy * w + math.min(x, w - 1))
        x += 1
      }
      y += 1
    }
    out
  }

  /** zero smallest-magnitude levels beyond 13 nonzero (legal lossy
    * clamp; see scaladoc) */
  private def clampCoeffs(c: Array[Int]): Unit = {
    var n = c.count(_ != 0)
    while (n > 13) {
      var minIdx = -1
      var minAbs = Int.MaxValue
      var i = 0
      while (i < c.length) {
        if (c(i) != 0 && math.abs(c(i)) < minAbs) {
          minAbs = math.abs(c(i)); minIdx = i
        }
        i += 1
      }
      c(minIdx) = 0
      n -= 1
    }
  }

  /** IDR I-slice header (7.3.3) — shared with [[H264Fixtures]]'
    * hand-assembled macroblocks */
  private[h264] def writeSliceHeader(w: BitWriter, sps: Sps,
      frameNum: Int, sliceQpDelta: Int, deblock: Boolean,
      firstMb: Int = 0): Unit = {
    w.ue(firstMb) // first_mb_in_slice
    w.ue(7) // slice_type I (all slices)
    w.ue(0) // pps id
    w.u(sps.log2MaxFrameNum, 0) // frame_num (IDR -> 0)
    w.ue(frameNum % 16) // idr_pic_id (varies per frame, legal)
    w.u(sps.log2MaxPocLsb, 0) // pic_order_cnt_lsb
    w.u1(0); w.u1(0) // dec_ref_pic_marking for IDR
    w.se(sliceQpDelta)
    w.ue(if (deblock) 0 else 1) // disable_deblocking_filter_idc
    if (deblock) { w.se(0); w.se(0) }
  }

  /** wrap finished slice RBSPs (one per slice, picture order) as one
    * AVCC sample of length-prefixed NALs */
  private[h264] def avccSampleMulti(ws: Seq[BitWriter],
      nalType: Int, refIdc: Int = 3): Array[Byte] = {
    val nals = ws.map { w =>
      w.rbspTrailing()
      Nal.unit(refIdc, nalType, w.toBytes)
    }
    val out = java.nio.ByteBuffer.allocate(nals.map(_.length + 4).sum)
    nals.foreach { n => out.putInt(n.length); out.put(n) }
    out.array()
  }

  /** one-slice samples: an IDR, a non-IDR reference (P), and a
    * NON-REFERENCE picture (nal_ref_idc 0 — the common B layout:
    * nothing references it, so a GOP walk may skip it) */
  private[h264] def avccSample(w: BitWriter): Array[Byte] =
    avccSampleMulti(Seq(w), nalType = 5)
  private[h264] def avccSampleP(w: BitWriter): Array[Byte] =
    avccSampleMulti(Seq(w), nalType = 1)
  private[h264] def avccSampleB(w: BitWriter): Array[Byte] =
    avccSampleMulti(Seq(w), nalType = 1, refIdc = 0)

  /** B slice header (7.3.3): spatial direct, optional per-list active
    * override, optional list modification and EXPLICIT bipred weight
    * tables (legal only when the PPS carries weighted_bipred_idc 1 —
    * both lists' tables then REQUIRED), non-reference (no
    * dec_ref_pic_marking). `pocLsb` orders the picture between its
    * references for the walk's list construction. */
  private[h264] def writeBSliceHeader(w: BitWriter, sps: Sps,
      frameNum: Int, pocLsb: Int, sliceQpDelta: Int, deblock: Boolean,
      firstMb: Int = 0, numRefs0: Int = 1, numRefs1: Int = 1,
      spatialDirect: Boolean = true,
      modL0: Seq[(Int, Int)] = Nil, modL1: Seq[(Int, Int)] = Nil,
      weights0: Option[WeightSpec] = None,
      weights1: Option[WeightSpec] = None): Unit = {
    w.ue(firstMb) // first_mb_in_slice
    w.ue(6) // slice_type B (all slices)
    w.ue(0) // pps id
    w.u(sps.log2MaxFrameNum, frameNum % (1 << sps.log2MaxFrameNum))
    w.u(sps.log2MaxPocLsb, pocLsb % (1 << sps.log2MaxPocLsb))
    w.u1(if (spatialDirect) 1 else 0) // direct_spatial_mv_pred_flag
    if (numRefs0 == 1 && numRefs1 == 1) {
      w.u1(0) // num_ref_idx_active_override
    } else {
      w.u1(1)
      w.ue(numRefs0 - 1)
      w.ue(numRefs1 - 1)
    }
    def writeMod(mods: Seq[(Int, Int)]): Unit =
      if (mods.isEmpty) w.u1(0)
      else {
        w.u1(1)
        mods.foreach { case (idc, v) => w.ue(idc); w.ue(v) }
        w.ue(3)
      }
    writeMod(modL0) // ref_pic_list_modification_flag_l0
    writeMod(modL1) // ref_pic_list_modification_flag_l1
    // pred_weight_table (7.3.3.2), l0 entries then l1 entries; the
    // log2 denoms are slice-wide, taken from weights0
    (weights0, weights1) match {
      case (Some(w0), Some(w1)) =>
        require(w0.logWDLuma == w1.logWDLuma &&
          w0.logWDChroma == w1.logWDChroma,
          "log2_weight_denom is slice-wide (shared by both lists)")
        w.ue(w0.logWDLuma)
        w.ue(w0.logWDChroma)
        def entries(ws: WeightSpec, n: Int): Unit = {
          require(ws.luma.length == n && ws.chroma.length == n,
            "one weight entry per active reference")
          var i = 0
          while (i < n) {
            ws.luma(i) match {
              case Some((wy, oy)) => w.u1(1); w.se(wy); w.se(oy)
              case None => w.u1(0)
            }
            ws.chroma(i) match {
              case Some((wcb, ocb, wcr, ocr)) =>
                w.u1(1); w.se(wcb); w.se(ocb); w.se(wcr); w.se(ocr)
              case None => w.u1(0)
            }
            i += 1
          }
        }
        entries(w0, numRefs0)
        entries(w1, numRefs1)
      case (None, None) => ()
      case _ => throw new IllegalArgumentException(
        "explicit bipred weighting needs BOTH lists' tables")
    }
    w.se(sliceQpDelta)
    w.ue(if (deblock) 0 else 1) // disable_deblocking_filter_idc
    if (deblock) { w.se(0); w.se(0) }
  }

  /** P slice header (7.3.3) — mirrors what [[Decoder]] parses: no
    * ref-list modification, sliding window marking. `frameNum` is the
    * position within the GOP (IDR resets frame_num to 0, each
    * reference picture increments); `numRefs` > 1 writes the
    * num_ref_idx_active override so partitions carry te(v) ref_idx_l0
    * against that count. */
  private[h264] def writePSliceHeader(w: BitWriter, sps: Sps,
      frameNum: Int, sliceQpDelta: Int, deblock: Boolean,
      firstMb: Int = 0, numRefs: Int = 1,
      weights: Option[WeightSpec] = None,
      pocLsbOverride: Int = -1,
      modL0: Seq[(Int, Int)] = Nil,
      mmco: Seq[(Int, Int, Int)] = Nil): Unit = {
    w.ue(firstMb) // first_mb_in_slice
    w.ue(5) // slice_type P (all slices)
    w.ue(0) // pps id
    w.u(sps.log2MaxFrameNum, frameNum % (1 << sps.log2MaxFrameNum))
    val pocLsb = if (pocLsbOverride >= 0) pocLsbOverride else 2 * frameNum
    w.u(sps.log2MaxPocLsb, pocLsb % (1 << sps.log2MaxPocLsb))
    if (numRefs == 1) {
      w.u1(0) // num_ref_idx_active_override (PPS default -> 1 active)
    } else {
      w.u1(1) // num_ref_idx_active_override
      w.ue(numRefs - 1) // num_ref_idx_l0_active_minus1
    }
    // ref_pic_list_modification (7.3.3.1): (idc, value) pairs, closed
    // by idc 3
    if (modL0.isEmpty) w.u1(0)
    else {
      w.u1(1)
      modL0.foreach { case (idc, v) => w.ue(idc); w.ue(v) }
      w.ue(3)
    }
    // pred_weight_table (7.3.3.2) — only legal when the PPS carries
    // weighted_pred_flag = 1; callers pair this with ppsFor(qp, true)
    weights.foreach { ws =>
      require(ws.luma.length == numRefs && ws.chroma.length == numRefs,
        "one weight entry per active reference")
      w.ue(ws.logWDLuma)
      w.ue(ws.logWDChroma)
      var i = 0
      while (i < numRefs) {
        ws.luma(i) match {
          case Some((wy, oy)) => w.u1(1); w.se(wy); w.se(oy)
          case None => w.u1(0)
        }
        ws.chroma(i) match {
          case Some((wcb, ocb, wcr, ocr)) =>
            w.u1(1); w.se(wcb); w.se(ocb); w.se(wcr); w.se(ocr)
          case None => w.u1(0)
        }
        i += 1
      }
    }
    // dec_ref_pic_marking (7.3.3.3): sliding window, or adaptive MMCO
    // (op, v1, v2) ops closed by op 0
    if (mmco.isEmpty) w.u1(0)
    else {
      w.u1(1)
      mmco.foreach { case (op, v1, v2) =>
        w.ue(op)
        op match {
          case 1 | 2 | 4 | 6 => w.ue(v1)
          case 3 => w.ue(v1); w.ue(v2)
          case 5 => ()
          case _ => throw new IllegalArgumentException(s"mmco op $op")
        }
      }
      w.ue(0)
    }
    w.se(sliceQpDelta)
    w.ue(if (deblock) 0 else 1) // disable_deblocking_filter_idc
    if (deblock) { w.se(0); w.se(0) }
  }

  /** explicit pred_weight_table payload for [[writePSliceHeader]]:
    * per-active-ref luma (weight, offset) and chroma
    * (wCb, oCb, wCr, oCr); None keeps the 1<<logWD / 0 defaults */
  final case class WeightSpec(logWDLuma: Int, logWDChroma: Int,
      luma: Seq[Option[(Int, Int)]],
      chroma: Seq[Option[(Int, Int, Int, Int)]])

  /** te(v)-coded ref_idx_l0 against `active` (9.1.1: single inverted
    * bit when active == 2, ue otherwise; nothing when active == 1) */
  private[h264] def writeRefIdx(w: BitWriter, active: Int,
      refIdx: Int): Unit = {
    require(refIdx >= 0 && refIdx < active, s"ref_idx $refIdx of $active")
    if (active == 2) w.u1(1 - refIdx)
    else if (active > 2) w.ue(refIdx)
  }

  /** 9.2.1 nC of block (gbx, gby) in a TotalCoeff map holding `per`
    * blocks per MB side (4 luma, 2 chroma): the rounded mean of the
    * left and top neighbours, counting only those whose MB lies in the
    * current slice (`sliceStart` on), mirroring the decoder's masking */
  private def nC(map: Array[Int], per: Int, mbW: Int, sliceStart: Int,
      gbx: Int, gby: Int): Int = {
    val stride = mbW * per
    val a = gbx > 0 && (gby / per) * mbW + (gbx - 1) / per >= sliceStart
    val b = gby > 0 && ((gby - 1) / per) * mbW + gbx / per >= sliceStart
    if (a && b) (map(gby * stride + gbx - 1) + map((gby - 1) * stride + gbx) + 1) >> 1
    else if (a) map(gby * stride + gbx - 1)
    else if (b) map((gby - 1) * stride + gbx)
    else 0
  }

  /** chroma residual of MB (mbX, mbY) against the 8x8 predictions:
    * per plane, four 4x4 forward transforms with clamped AC levels
    * into `ac(c)(b)` and the DC terms through the forward 2x2 Hadamard
    * and quant into `dc(c)`. Returns the coded_block_pattern chroma
    * (2 any AC, 1 DC only, 0 none). */
  private def chromaResidual(srcCb: Array[Int], srcCr: Array[Int],
      predCb: Array[Int], predCr: Array[Int], sc: Int, mbX: Int, mbY: Int,
      qpc: Int, dc: Array[Array[Int]], ac: Array[Array[Array[Int]]]): Int = {
    var anyAc = false
    var anyDc = false
    var c = 0
    while (c < 2) {
      val src = if (c == 0) srcCb else srcCr
      val pred = if (c == 0) predCb else predCr
      val wdc = new Array[Int](4)
      var b = 0
      while (b < 4) {
        val res = new Array[Int](16)
        var i = 0
        while (i < 16) {
          val px = (b % 2) * 4 + i % 4
          val py = (b / 2) * 4 + i / 4
          res(i) = src((mbY * 8 + py) * sc + mbX * 8 + px) - pred(py * 8 + px)
          i += 1
        }
        val wc = Transform.forward4x4(res)
        wdc(b) = wc(0)
        val lev = new Array[Int](16)
        i = 1
        while (i < 16) {
          lev(i) = Transform.quantAc(wc(i), qpc, i / 4, i % 4)
          i += 1
        }
        clampCoeffs(lev)
        if (lev.exists(_ != 0)) anyAc = true
        ac(c)(b) = lev
        b += 1
      }
      val f = Array(
        wdc(0) + wdc(1) + wdc(2) + wdc(3),
        wdc(0) - wdc(1) + wdc(2) - wdc(3),
        wdc(0) + wdc(1) - wdc(2) - wdc(3),
        wdc(0) - wdc(1) - wdc(2) + wdc(3))
      var i = 0
      while (i < 4) {
        dc(c)(i) = Transform.quantChromaDc(f(i), qpc)
        if (dc(c)(i) != 0) anyDc = true
        i += 1
      }
      c += 1
    }
    if (anyAc) 2 else if (anyDc) 1 else 0
  }

  /** CAVLC chroma of one coded MB: both planes' DC blocks when
    * `cbpChroma` != 0, then every AC block when `cbpChroma` == 2. Each
    * AC block's TotalCoeff (0 when not coded) goes into `nzCb` / `nzCr`
    * for later nC lookups. */
  private def writeChroma(w: BitWriter, cbpChroma: Int,
      dc: Array[Array[Int]], ac: Array[Array[Array[Int]]],
      nzCb: Array[Int], nzCr: Array[Int], mbW: Int, sliceStart: Int,
      mbX: Int, mbY: Int): Unit = {
    if (cbpChroma != 0) {
      Cavlc.writeBlock(w, -1, 4, dc(0))
      Cavlc.writeBlock(w, -1, 4, dc(1))
    }
    var c = 0
    while (c < 2) {
      val map = if (c == 0) nzCb else nzCr
      var b = 0
      while (b < 4) {
        val gbx = mbX * 2 + b % 2
        val gby = mbY * 2 + b / 2
        if (cbpChroma == 2) {
          val scan = new Array[Int](15)
          var j = 0
          while (j < 15) {
            scan(j) = ac(c)(b)(Transform.ZigZag4x4(j + 1))
            j += 1
          }
          map(gby * mbW * 2 + gbx) = Cavlc.writeBlock(w,
            nC(map, 2, mbW, sliceStart, gbx, gby), 15, scan)
        } else map(gby * mbW * 2 + gbx) = 0
        b += 1
      }
      c += 1
    }
  }

  /** Encode one frame as an IDR AVCC sample. `pcmEvery` > 0 makes
    * every n-th MB I_PCM (losslessly carrying the source pixels).
    * `mbPerSlice` > 0 starts a new slice every that many MBs (the
    * encoder-parallelism layout real streams carry) — intra prediction
    * and CAVLC contexts then treat cross-slice neighbors as
    * unavailable, mirroring the decoder's 6.4.9 masking. */
  def encodeFrame(f: Frame, qp: Int, pcmEvery: Int = 0,
      frameNum: Int = 0, deblock: Boolean = true,
      mbPerSlice: Int = 0): Array[Byte] = {
    val sps = spsFor(f.width, f.height)
    val pps = ppsFor(qp)
    val mbW = sps.mbWidth
    val mbH = sps.mbHeight
    val sy = mbW * 16
    val sc = mbW * 8
    val srcY = padPlane(f.y, f.width, f.height, sy, mbH * 16)
    val srcCb = padPlane(f.cb, f.width / 2, f.height / 2, sc, mbH * 8)
    val srcCr = padPlane(f.cr, f.width / 2, f.height / 2, sc, mbH * 8)
    // reconstruction planes (what the decoder will see, pre-deblock)
    val recY = new Array[Int](sy * mbH * 16)
    val recCb = new Array[Int](sc * mbH * 8)
    val recCr = new Array[Int](sc * mbH * 8)
    val nzY = new Array[Int](mbW * 4 * mbH * 4)
    val nzCb = new Array[Int](mbW * 2 * mbH * 2)
    val nzCr = new Array[Int](mbW * 2 * mbH * 2)

    var w: BitWriter = null
    val writers = Seq.newBuilder[BitWriter]
    var sliceStart = 0

    val qpc = Transform.chromaQp(qp, pps.chromaQpOffset)
    var mbIdx = 0
    while (mbIdx < mbW * mbH) {
      if (w == null || (mbPerSlice > 0 && mbIdx % mbPerSlice == 0)) {
        w = new BitWriter
        writers += w
        sliceStart = mbIdx
        writeSliceHeader(w, sps, frameNum, sliceQpDelta = 0, deblock,
          firstMb = mbIdx)
      }
      val mbX = mbIdx % mbW
      val mbY = mbIdx / mbW
      val x0 = mbX * 16
      val y0 = mbY * 16

      if (pcmEvery > 0 && mbIdx % pcmEvery == 0) {
        // ---- I_PCM ----
        w.ue(25)
        w.alignZero()
        var i = 0
        while (i < 256) {
          val v = srcY((y0 + i / 16) * sy + x0 + i % 16)
          w.u(8, v)
          recY((y0 + i / 16) * sy + x0 + i % 16) = v
          i += 1
        }
        i = 0
        while (i < 64) {
          val v = srcCb((mbY * 8 + i / 8) * sc + mbX * 8 + i % 8)
          w.u(8, v)
          recCb((mbY * 8 + i / 8) * sc + mbX * 8 + i % 8) = v
          i += 1
        }
        i = 0
        while (i < 64) {
          val v = srcCr((mbY * 8 + i / 8) * sc + mbX * 8 + i % 8)
          w.u(8, v)
          recCr((mbY * 8 + i / 8) * sc + mbX * 8 + i % 8) = v
          i += 1
        }
        var k = 0
        while (k < 16) {
          val (bx, by) = zIndex(k)
          nzY((mbY * 4 + by) * mbW * 4 + mbX * 4 + bx) = 16
          k += 1
        }
        var c = 0
        while (c < 4) {
          nzCb((mbY * 2 + c / 2) * mbW * 2 + mbX * 2 + c % 2) = 16
          nzCr((mbY * 2 + c / 2) * mbW * 2 + mbX * 2 + c % 2) = 16
          c += 1
        }
      } else {
        // ---- Intra_16x16 ----
        val aL = mbX > 0 && mbIdx - 1 >= sliceStart
        val aT = mbY > 0 && mbIdx - mbW >= sliceStart
        val cand = Seq(2) ++ (if (aT) Seq(0) else Nil) ++
          (if (aL) Seq(1) else Nil) ++ (if (aL && aT) Seq(3) else Nil)
        val predBuf = new Array[Int](256)
        var bestMode = 2
        var bestSad = Int.MaxValue
        val bestPred = new Array[Int](256)
        cand.foreach { m =>
          Predict.intra16x16(m, recY, sy, x0, y0, aL, aT, predBuf)
          var sad = 0
          var i = 0
          while (i < 256) {
            sad += math.abs(srcY((y0 + i / 16) * sy + x0 + i % 16) - predBuf(i))
            i += 1
          }
          if (sad < bestSad) {
            bestSad = sad; bestMode = m
            System.arraycopy(predBuf, 0, bestPred, 0, 256)
          }
        }

        // forward transform: per 4x4 block (z-order), DC to Hadamard path
        val dcCoeffs = new Array[Int](16) // raster over the 4x4 DC grid
        val acLevels = new Array[Array[Int]](16) // z-index -> raster levels
        var anyAc = false
        var k = 0
        while (k < 16) {
          val (bx, by) = zIndex(k)
          val res = new Array[Int](16)
          var i = 0
          while (i < 16) {
            val px = x0 + bx * 4 + i % 4
            val py = y0 + by * 4 + i / 4
            res(i) = srcY(py * sy + px) - bestPred((py - y0) * 16 + (px - x0))
            i += 1
          }
          val wc = Transform.forward4x4(res)
          dcCoeffs(by * 4 + bx) = wc(0)
          val lev = new Array[Int](16)
          i = 1
          while (i < 16) {
            lev(i) = Transform.quantAc(wc(i), qp, i / 4, i % 4)
            i += 1
          }
          clampCoeffs(lev)
          if (lev.exists(_ != 0)) anyAc = true
          acLevels(k) = lev
          k += 1
        }
        val dcHad = Transform.hadamard4x4(dcCoeffs)
        val dcLevels = dcHad.map(Transform.quantLumaDc(_, qp))
        clampCoeffs(dcLevels)

        // chroma: mode by SAD over DC/H/V
        val candC = Seq(0) ++ (if (aL) Seq(1) else Nil) ++
          (if (aT) Seq(2) else Nil)
        val predC = new Array[Int](64)
        val bestPredCb = new Array[Int](64)
        val bestPredCr = new Array[Int](64)
        var bestModeC = 0
        var bestSadC = Int.MaxValue
        candC.foreach { m =>
          var sad = 0
          Predict.chroma8x8(m, recCb, sc, mbX * 8, mbY * 8, aL, aT, predC)
          var i = 0
          while (i < 64) {
            sad += math.abs(srcCb((mbY * 8 + i / 8) * sc + mbX * 8 + i % 8) - predC(i))
            i += 1
          }
          val predC2 = new Array[Int](64)
          Predict.chroma8x8(m, recCr, sc, mbX * 8, mbY * 8, aL, aT, predC2)
          i = 0
          while (i < 64) {
            sad += math.abs(srcCr((mbY * 8 + i / 8) * sc + mbX * 8 + i % 8) - predC2(i))
            i += 1
          }
          if (sad < bestSadC) {
            bestSadC = sad; bestModeC = m
            Predict.chroma8x8(m, recCb, sc, mbX * 8, mbY * 8, aL, aT, bestPredCb)
            System.arraycopy(predC2, 0, bestPredCr, 0, 64)
          }
        }

        val cDcLevels = Array.ofDim[Int](2, 4)
        val cAcLevels = Array.ofDim[Array[Int]](2, 4)
        val cbpChroma = chromaResidual(srcCb, srcCr, bestPredCb, bestPredCr,
          sc, mbX, mbY, qpc, cDcLevels, cAcLevels)

        val cbpLuma = if (anyAc) 15 else 0
        val mbType = 1 + bestMode + 4 * cbpChroma + (if (anyAc) 12 else 0)
        w.ue(mbType)
        w.ue(bestModeC)
        w.se(0) // mb_qp_delta (always present for I_16x16)

        // residual: luma DC
        val dcScan = new Array[Int](16)
        var i = 0
        while (i < 16) {
          dcScan(i) = dcLevels(Transform.ZigZag4x4(i))
          i += 1
        }
        Cavlc.writeBlock(w, nC(nzY, 4, mbW, sliceStart, mbX * 4, mbY * 4), 16,
          dcScan)
        // luma AC
        k = 0
        while (k < 16) {
          val (bx, by) = zIndex(k)
          val gbx = mbX * 4 + bx
          val gby = mbY * 4 + by
          if (cbpLuma != 0) {
            val scan = new Array[Int](15)
            var j = 0
            while (j < 15) {
              scan(j) = acLevels(k)(Transform.ZigZag4x4(j + 1))
              j += 1
            }
            val tc = Cavlc.writeBlock(w, nC(nzY, 4, mbW, sliceStart, gbx, gby),
              15, scan)
            nzY(gby * mbW * 4 + gbx) = tc
          } else nzY(gby * mbW * 4 + gbx) = 0
          k += 1
        }
        writeChroma(w, cbpChroma, cDcLevels, cAcLevels, nzCb, nzCr, mbW,
          sliceStart, mbX, mbY)

        // ---- reconstruct (must mirror the decoder exactly) ----
        val dcRaster = new Array[Int](16)
        i = 0
        while (i < 16) {
          dcRaster(Transform.ZigZag4x4(i)) = dcScan(i)
          i += 1
        }
        val dcRec = Transform.lumaDc(dcRaster, qp)
        k = 0
        while (k < 16) {
          val (bx, by) = zIndex(k)
          val d = acLevels(k).clone()
          d(0) = 0
          Transform.dequant4x4(d, qp, skipDc = true)
          d(0) = dcRec(by * 4 + bx)
          val res = Transform.inverse4x4(d)
          var j = 0
          while (j < 16) {
            val px = x0 + bx * 4 + j % 4
            val py = y0 + by * 4 + j / 4
            recY(py * sy + px) =
              clip(bestPred((py - y0) * 16 + (px - x0)) + res(j))
            j += 1
          }
          k += 1
        }
        var c = 0
        while (c < 2) {
          val rec = if (c == 0) recCb else recCr
          val pred = if (c == 0) bestPredCb else bestPredCr
          val dcRecC = Transform.chromaDc(cDcLevels(c), qpc)
          var b = 0
          while (b < 4) {
            val d = cAcLevels(c)(b).clone()
            d(0) = 0
            Transform.dequant4x4(d, qpc, skipDc = true)
            d(0) = dcRecC(b)
            val res = Transform.inverse4x4(d)
            val bx0 = mbX * 8 + (b % 2) * 4
            val by0 = mbY * 8 + (b / 2) * 4
            var j = 0
            while (j < 16) {
              val px = bx0 + j % 4
              val py = by0 + j / 4
              rec(py * sc + px) =
                clip(pred((py - mbY * 8) * 8 + (px - mbX * 8)) + res(j))
              j += 1
            }
            b += 1
          }
          c += 1
        }
      }
      mbIdx += 1
    }

    avccSampleMulti(writers.result(), nalType = 5)
  }

  /** full avc1 MP4: encoded IDR samples + avcC in the stsd entry */
  def mp4(frames: Seq[Frame], qp: Int, fps: Int, pcmEvery: Int = 0,
      deblock: Boolean = true, mbPerSlice: Int = 0): Array[Byte] = {
    require(frames.nonEmpty)
    val f0 = frames.head
    val sps = spsFor(f0.width, f0.height)
    val pps = ppsFor(qp)
    val samples = frames.zipWithIndex.map { case (f, i) =>
      require(f.width == f0.width && f.height == f0.height, "mixed dims")
      encodeFrame(f, qp, pcmEvery, i, deblock, mbPerSlice)
    }
    Mp4Samples.encodeFrames(samples, codec = "avc1", fps = fps,
      width = f0.width, height = f0.height, syncEvery = 1,
      sampleEntryExtension = avccBox(sps, pps))
  }

  /** Encode one frame as a non-IDR P sample: every MB is P_L0_16x16 at
    * the single constant quarter-pel MV `mv` (residual = src − MC(ref))
    * or P_Skip where the residual quantizes to zero AND `mv` equals the
    * 8.4.1.1 skip MV. `ref` must be the DECODER's post-deblock output
    * for the previous frame — [[mp4GopMulti]] maintains that invariant by
    * decoding each emitted sample, so encode recon == decode recon by
    * construction (no duplicated deblock/bS logic). */
  def encodePFrame(f: Frame, ref: Decoder.Yuv, qp: Int, frameNum: Int,
      mv: (Int, Int) = (0, 0), deblock: Boolean = true,
      mbPerSlice: Int = 0): Array[Byte] =
    encodePFrameRefs(f, Vector(ref), qp, frameNum, mv, deblock, mbPerSlice)

  /** Multi-reference P sample: `refs` is reference list 0 (most recent
    * first); each MB motion-compensates every candidate reference at
    * the constant MV and picks the minimum-luma-SAD one (ties → lowest
    * ref_idx, the bit-cheapest), writing te(v) ref_idx_l0 when more
    * than one reference is active — the multi-ref streams real
    * encoders emit. P_Skip stays restricted to refIdx 0 (8.4.1.1). */
  def encodePFrameRefs(f: Frame, refs: IndexedSeq[Decoder.Yuv], qp: Int,
      frameNum: Int, mv: (Int, Int) = (0, 0), deblock: Boolean = true,
      mbPerSlice: Int = 0): Array[Byte] = {
    val sps = spsFor(f.width, f.height)
    val pps = ppsFor(qp)
    val mbW = sps.mbWidth
    val mbH = sps.mbHeight
    require(refs.nonEmpty, "P frame needs at least one reference")
    val active = refs.length
    refs.foreach(ref =>
      require(ref.mbW == mbW && ref.mbH == mbH, "reference dims mismatch"))
    val sy = mbW * 16
    val sc = mbW * 8
    val srcY = padPlane(f.y, f.width, f.height, sy, mbH * 16)
    val srcCb = padPlane(f.cb, f.width / 2, f.height / 2, sc, mbH * 8)
    val srcCr = padPlane(f.cr, f.width / 2, f.height / 2, sc, mbH * 8)
    val nzY = new Array[Int](mbW * 4 * mbH * 4)
    val nzCb = new Array[Int](mbW * 2 * mbH * 2)
    val nzCr = new Array[Int](mbW * 2 * mbH * 2)
    val bCols = mbW * 4
    val bRows = mbH * 4
    val refGrid = Array.fill(bCols * bRows)(MotionPred.Unavail)
    val mvxGrid = new Array[Int](bCols * bRows)
    val mvyGrid = new Array[Int](bCols * bRows)
    val (mvX, mvY) = mv
    val qpc = Transform.chromaQp(qp, pps.chromaQpOffset)

    var w: BitWriter = null
    val writers = Seq.newBuilder[BitWriter]
    var sliceStart = 0

    def fillMvMb(mbX: Int, mbY: Int, refIdx: Int, mx: Int,
        my: Int): Unit = {
      var by = mbY * 4
      while (by < mbY * 4 + 4) {
        var bx = mbX * 4
        while (bx < mbX * 4 + 4) {
          refGrid(by * bCols + bx) = refIdx
          mvxGrid(by * bCols + bx) = mx
          mvyGrid(by * bCols + bx) = my
          bx += 1
        }
        by += 1
      }
    }

    var skipRun = 0
    var mbIdx = 0
    while (mbIdx < mbW * mbH) {
      if (w == null || (mbPerSlice > 0 && mbIdx % mbPerSlice == 0)) {
        // a pending skip run belongs to the slice it started in
        if (w != null && skipRun > 0) { w.ue(skipRun); skipRun = 0 }
        w = new BitWriter
        writers += w
        sliceStart = mbIdx
        writePSliceHeader(w, sps, frameNum, sliceQpDelta = 0, deblock,
          firstMb = mbIdx, numRefs = active)
      }
      val mbX = mbIdx % mbW
      val mbY = mbIdx / mbW
      val x0 = mbX * 16
      val y0 = mbY * 16

      // MC prediction at the constant MV against every candidate
      // reference (same Interp as the decoder); pick min luma SAD,
      // ties -> lowest ref_idx
      val predY = new Array[Int](256)
      val predCb = new Array[Int](64)
      val predCr = new Array[Int](64)
      var chosenRef = 0
      if (active == 1) {
        Interp.luma(refs(0).y, sy, mbH * 16, x0, y0, mvX, mvY, 16, 16,
          predY, 16, 0, 0)
      } else {
        val cand = new Array[Int](256)
        var bestSad = Int.MaxValue
        var ri = 0
        while (ri < active) {
          Interp.luma(refs(ri).y, sy, mbH * 16, x0, y0, mvX, mvY, 16, 16,
            cand, 16, 0, 0)
          var sad = 0
          var i = 0
          while (i < 256) {
            sad += math.abs(srcY((y0 + i / 16) * sy + x0 + i % 16) - cand(i))
            i += 1
          }
          if (sad < bestSad) {
            bestSad = sad; chosenRef = ri
            System.arraycopy(cand, 0, predY, 0, 256)
          }
          ri += 1
        }
      }
      val ref = refs(chosenRef)
      Interp.chroma(ref.cb, sc, mbH * 8, mbX * 8, mbY * 8, mvX, mvY,
        8, 8, predCb, 8, 0, 0)
      Interp.chroma(ref.cr, sc, mbH * 8, mbX * 8, mbY * 8, mvX, mvY,
        8, 8, predCr, 8, 0, 0)

      // luma residual: 4x4 forward + quant, per z-block
      val acLevels = new Array[Array[Int]](16)
      var cbpLuma = 0
      var k = 0
      while (k < 16) {
        val (bx, by) = zIndex(k)
        val res = new Array[Int](16)
        var i = 0
        while (i < 16) {
          val px = x0 + bx * 4 + i % 4
          val py = y0 + by * 4 + i / 4
          res(i) = srcY(py * sy + px) - predY((py - y0) * 16 + (px - x0))
          i += 1
        }
        val wc = Transform.forward4x4(res)
        val lev = new Array[Int](16)
        i = 0
        while (i < 16) {
          lev(i) = Transform.quantAc(wc(i), qp, i / 4, i % 4)
          i += 1
        }
        clampCoeffs(lev)
        if (lev.exists(_ != 0)) cbpLuma |= 1 << (k / 4)
        acLevels(k) = lev
        k += 1
      }

      val cDcLevels = Array.ofDim[Int](2, 4)
      val cAcLevels = Array.ofDim[Array[Int]](2, 4)
      val cbpChroma = chromaResidual(srcCb, srcCr, predCb, predCr, sc, mbX,
        mbY, qpc, cDcLevels, cAcLevels)
      val cbp = cbpLuma | (cbpChroma << 4)

      val (skipX, skipY) = MotionPred.skipMv(refGrid, mvxGrid, mvyGrid,
        bCols, bRows, mbX * 4, mbY * 4, sliceStart)
      if (cbp == 0 && chosenRef == 0 && mvX == skipX && mvY == skipY) {
        // ---- P_Skip (refIdx 0 by definition, 8.4.1.1) ----
        skipRun += 1
        fillMvMb(mbX, mbY, 0, mvX, mvY)
        // nz maps already 0 for this MB
      } else {
        // ---- P_L0_16x16 ----
        w.ue(skipRun)
        skipRun = 0
        val (mpx, mpy) = MotionPred.predict(refGrid, mvxGrid, mvyGrid,
          bCols, bRows, mbX * 4, mbY * 4, 4, 4, MotionPred.PartNormal,
          sliceStart, chosenRef)
        fillMvMb(mbX, mbY, chosenRef, mvX, mvY)
        w.ue(0) // mb_type P_L0_16x16
        writeRefIdx(w, active, chosenRef)
        w.se(mvX - mpx)
        w.se(mvY - mpy)
        w.ue(Decoder.codeNumFromCbpInter(cbp))
        if (cbp != 0) w.se(0) // mb_qp_delta
        // luma residual, coded 8x8 groups only
        k = 0
        while (k < 16) {
          val (bx, by) = zIndex(k)
          val gbx = mbX * 4 + bx
          val gby = mbY * 4 + by
          if ((cbpLuma & (1 << (k / 4))) != 0) {
            val scan = new Array[Int](16)
            var j = 0
            while (j < 16) {
              scan(j) = acLevels(k)(Transform.ZigZag4x4(j))
              j += 1
            }
            val tc = Cavlc.writeBlock(w, nC(nzY, 4, mbW, sliceStart, gbx, gby),
              16, scan)
            nzY(gby * bCols + gbx) = tc
          } else nzY(gby * bCols + gbx) = 0
          k += 1
        }
        writeChroma(w, cbpChroma, cDcLevels, cAcLevels, nzCb, nzCr, mbW,
          sliceStart, mbX, mbY)
      }
      mbIdx += 1
    }
    if (skipRun > 0) w.ue(skipRun) // trailing skip run closes the picture
    avccSampleMulti(writers.result(), nalType = 1)
  }

  /** avc1 MP4 with a GOP structure: frame i with i % gop == 0 is an
    * IDR (intra, marked sync in stss), others are P frames at
    * `mvFor(i)` against the previous picture — [[mp4GopMulti]] with a
    * one-picture DPB. */
  def mp4Gop(frames: Seq[Frame], qp: Int, fps: Int, gop: Int,
      mvFor: Int => (Int, Int) = _ => (0, 0),
      deblock: Boolean = true, mbPerSlice: Int = 0): Array[Byte] =
    mp4GopMulti(frames, qp, fps, gop, numRefs = 1, mvFor, deblock,
      mbPerSlice)

  /** avc1 MP4 with a GOP structure AND a multi-picture DPB: frame i
    * with i % gop == 0 is an IDR (intra, marked sync in stss), others
    * are P frames at `mvFor(i)` that reference up to `numRefs`
    * previously decoded pictures (sliding window, most recent first —
    * the list-0 initialization order) with per-MB min-SAD ref_idx
    * selection. Reference maintenance decodes each emitted sample with
    * the REAL decoder, so drift between encoder assumptions and decoder
    * behavior is structurally impossible. The SPS declares
    * max_num_ref_frames = numRefs, so a decoder's GOP walk must
    * maintain the same window to resolve every ref_idx. */
  def mp4GopMulti(frames: Seq[Frame], qp: Int, fps: Int, gop: Int,
      numRefs: Int, mvFor: Int => (Int, Int) = _ => (0, 0),
      deblock: Boolean = true, mbPerSlice: Int = 0): Array[Byte] = {
    require(frames.nonEmpty && gop >= 1 && numRefs >= 1 && numRefs <= 16)
    val f0 = frames.head
    val sps = spsFor(f0.width, f0.height, numRefFrames = numRefs)
    val pps = ppsFor(qp)
    val cfg = Decoder.AvcConfig(sps, pps, 4)
    var dpb = Vector.empty[Decoder.Yuv]
    val samples = frames.zipWithIndex.map { case (f, i) =>
      require(f.width == f0.width && f.height == f0.height, "mixed dims")
      if (i % gop == 0) {
        val s = encodeFrame(f, qp, 0, i, deblock, mbPerSlice)
        dpb = Vector(Decoder.decode(s, cfg, Vector.empty[Decoder.Yuv]))
        s
      } else {
        // never signal more active refs than the DPB holds (a GOP's
        // first P frames see a still-filling window)
        val refs = dpb.take(numRefs)
        val s = encodePFrameRefs(f, refs, qp, frameNum = i % gop,
          mvFor(i), deblock, mbPerSlice)
        dpb = (Decoder.decode(s, cfg, refs) +: dpb).take(numRefs)
        s
      }
    }
    Mp4Samples.encodeFrames(samples, codec = "avc1", fps = fps,
      width = f0.width, height = f0.height, syncEvery = gop,
      sampleEntryExtension = avccBox(sps, pps))
  }
}
