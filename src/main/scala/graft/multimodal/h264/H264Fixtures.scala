package graft.multimodal.h264

import graft.multimodal.Mp4Samples

/** Oracle-replayable avc1 fixtures for the mm14 gate query: 16x16
  * single-macroblock IDR frames cycling three MB kinds whose decoded
  * pixels are closed-form integer functions of (docId, frameNo) —
  * DuckDB replays the exact dequant / Hadamard / clip arithmetic while
  * the Spark side runs the REAL decoder over real bitstreams (NAL →
  * slice header → CAVLC → prediction → reconstruction → deblock loop).
  *
  *  - kind 0 (f%3==0): I_PCM — lossless pixels (d*31+f*53+i*7)%251 etc.
  *  - kind 1: I_16x16, DC prediction (128, no neighbors), a single
  *    luma-DC level Ly and chroma-DC levels — decoded value
  *    clip(128 + ((dcScale(Ly,qp)+32)>>6)), uniform per plane.
  *  - kind 2: I_NxN, all 16 blocks DC mode, one luma level on block 0;
  *    DC propagation makes the whole luma plane
  *    clip(128 + (((L2*V)<<(qp/6))+32>>6)); chroma uniform 128.
  *
  * Deblocking stays ENABLED (the loop runs; uniform planes and QP-0
  * PCM macroblocks make it the identity, which the spec-vector tests
  * in H264Spec verify is the correct identity, not a skipped path).
  */
object H264Fixtures {

  def qpFor(docId: Long): Int = 16 + (docId % 24).toInt

  /** one 16x16 single-MB avc1 video, `n` frames cycling the 3 kinds.
    * Every frame is an IDR (independently decodable); `syncEvery > 1`
    * marks only every k-th frame as a sync sample in stss — the
    * container-level keyframe cadence the kf sampler consumes
    * (`pack/samplers.py:121-157` reads the index, then decodes the
    * marked frames), without making any frame's DECODE depend on
    * another's. */
  def video(docId: Long, n: Int, syncEvery: Int = 1): Array[Byte] =
    videoQp(docId, n, qpFor(docId), syncEvery)

  /** [[video]] with an explicit QP — the "re-encode" axis: the same
    * doc's content encoded at a different quantizer yields different
    * bitstream bytes AND different reconstructed pixel values on the
    * quantized kinds (I_16x16 / I_NxN; I_PCM bypasses quantization),
    * which is exactly what a perceptual fingerprint (mm28) must
    * survive and an exact pixel fingerprint (mm27) must not. */
  def videoQp(docId: Long, n: Int, qp: Int,
      syncEvery: Int = 1): Array[Byte] = {
    val sps = Encoder.spsFor(16, 16)
    val pps = Encoder.ppsFor(qp)
    val samples = (0 until n).map(f => frameSample(docId, f, qp, sps))
    Mp4Samples.encodeFrames(samples, codec = "avc1", fps = 10,
      width = 16, height = 16, syncEvery = syncEvery,
      sampleEntryExtension = Encoder.avccBox(sps, pps))
  }

  /** [[video]] cut as a CLIP: `n` frames whose CONTENT is display
    * indices `from .. from+n-1` of the same doc's full video — the
    * trim / re-clip shape that segment-level dedup (mm32) must
    * localize. Frame content is a pure function of (doc, content
    * index), so the clip's frame `i` decodes bit-identically to the
    * full video's frame `from + i`; the slice header index only feeds
    * idr_pic_id (cosmetic), every frame stays an IDR. */
  def videoClip(docId: Long, from: Int, n: Int): Array[Byte] = {
    val qp = qpFor(docId)
    val sps = Encoder.spsFor(16, 16)
    val pps = Encoder.ppsFor(qp)
    val samples =
      (0 until n).map(i => frameSample(docId, from + i, qp, sps))
    Mp4Samples.encodeFrames(samples, codec = "avc1", fps = 10,
      width = 16, height = 16, syncEvery = 1,
      sampleEntryExtension = Encoder.avccBox(sps, pps))
  }

  private def frameSample(d: Long, f: Int, qp: Int,
      sps: Sps): Array[Byte] = (f % 3) match {
    case 0 => pcmFrame(d, f, sps)
    case 1 => i16Frame(d, f, sps)
    case _ => i4Frame(d, f, sps)
  }

  private def pcmFrame(d: Long, f: Int, sps: Sps): Array[Byte] = {
    val w = new BitWriter
    Encoder.writeSliceHeader(w, sps, f, sliceQpDelta = 0, deblock = true)
    w.ue(25) // I_PCM
    w.alignZero()
    var i = 0
    while (i < 256) { w.u(8, ((d * 31 + f * 53 + i * 7) % 251).toInt); i += 1 }
    i = 0
    while (i < 64) { w.u(8, ((d * 29 + f * 47 + i * 11) % 251).toInt); i += 1 }
    i = 0
    while (i < 64) { w.u(8, ((d * 23 + f * 41 + i * 13) % 251).toInt); i += 1 }
    Encoder.avccSample(w)
  }

  private def i16Frame(d: Long, f: Int, sps: Sps): Array[Byte] = {
    val ly = 1 + ((d + f) % 5).toInt
    val lcb = ((d + f) % 3).toInt
    val lcr = ((d + 2 * f) % 3).toInt
    val cbpChroma = if (lcb != 0 || lcr != 0) 1 else 0
    val w = new BitWriter
    Encoder.writeSliceHeader(w, sps, f, sliceQpDelta = 0, deblock = true)
    // I_16x16: pred mode 2 (DC), luma CBP 0
    w.ue(1 + 2 + 4 * cbpChroma)
    w.ue(0) // intra_chroma_pred_mode: DC
    w.se(0) // mb_qp_delta
    // Intra16x16DCLevel: single level at scan 0, nC = 0 (no neighbors)
    val dc = new Array[Int](16)
    dc(0) = ly
    Cavlc.writeBlock(w, 0, 16, dc)
    // no luma AC (cbp 0); chroma DC if coded
    if (cbpChroma == 1) {
      Cavlc.writeBlock(w, -1, 4, Array(lcb, 0, 0, 0))
      Cavlc.writeBlock(w, -1, 4, Array(lcr, 0, 0, 0))
    }
    Encoder.avccSample(w)
  }

  private def i4Frame(d: Long, f: Int, sps: Sps): Array[Byte] = {
    val l2 = 1 + ((d * 3 + f) % 5).toInt
    val w = new BitWriter
    Encoder.writeSliceHeader(w, sps, f, sliceQpDelta = 0, deblock = true)
    w.ue(0) // I_NxN
    var k = 0
    while (k < 16) { w.u1(1); k += 1 } // prev_flag: predicted mode (DC)
    w.ue(0) // chroma DC
    w.ue(Decoder.codeNumFromCbp(1)) // CBP: luma 8x8 group 0 only
    w.se(0) // mb_qp_delta
    // group 0 = z-blocks 0..3; block 0 carries one DC-position level
    val blk0 = new Array[Int](16)
    blk0(0) = l2
    val tc0 = Cavlc.writeBlock(w, 0, 16, blk0) // nC: no neighbors
    Cavlc.writeBlock(w, tc0, 16, new Array[Int](16)) // z1: left=blk0
    Cavlc.writeBlock(w, tc0, 16, new Array[Int](16)) // z2: top=blk0
    Cavlc.writeBlock(w, 0, 16, new Array[Int](16)) // z3: left z2=0,top z1=0
    Encoder.avccSample(w)
  }

  /** GOP-structured avc1 video for the INTER decode path (wds24 /
    * mm16): every 4th frame is an IDR (the i16 uniform frame, marked
    * sync in stss), and the frames between are P-slices that the
    * decoder can only reach by motion-compensated walk-back from the
    * sync sample — the decord seek model of the reference's uniform
    * sampler (`pack/samplers.py:102-119`, `pack/dataset.py:102-108`):
    *
    *  - g = f%4 == 0: IDR, uniform planes (kind-1 closed form).
    *  - g == 1: P_L0_16x16 at mv (0,0); all 16 luma 4x4 blocks carry a
    *    single DC-position level lp → uniform luma delta
    *    ((lp·V)<<(qp/6) + 32) >> 6; chroma uncoded (copies the IDR).
    *  - g == 2: whole-picture P_Skip (mb_skip_run covers the MB) —
    *    bit-exact copy of the g==1 picture.
    *  - g == 3: P_L0_16x16 at a NONZERO quarter-pel MV with cbp 0 —
    *    runs the 6-tap/bilinear interpolators end-to-end (identity on
    *    the uniform reference, so still closed-form).
    */
  def videoGop(docId: Long, n: Int): Array[Byte] = {
    val qp = qpFor(docId)
    val sps = Encoder.spsFor(16, 16)
    val pps = Encoder.ppsFor(qp)
    val samples = (0 until n).map { f =>
      (f % 4) match {
        case 0 => i16Frame(docId, f, sps)
        case 1 => pDeltaFrame(docId, f, qp, sps)
        case 2 => pSkipFrame(f, sps)
        case _ => pMvFrame(docId, f, sps)
      }
    }
    Mp4Samples.encodeFrames(samples, codec = "avc1", fps = 10,
      width = 16, height = 16, syncEvery = 4,
      sampleEntryExtension = Encoder.avccBox(sps, pps))
  }

  /** [[videoGop]] re-containered as FRAGMENTED MP4 (moof/trun, 4
    * samples per fragment, trun-carried sync flags) — identical
    * samples and GOP cadence, so the mm16 closed form applies
    * verbatim; what changes is the CONTAINER walk (empty stbl, trex
    * defaults, default-base-is-moof offsets). The mm21 gate pins it. */
  def videoGopFragmented(docId: Long, n: Int): Array[Byte] = {
    val plain = videoGop(docId, n)
    val t = Mp4Samples.parse(plain).get
    val qp = qpFor(docId)
    val sps = Encoder.spsFor(16, 16)
    val pps = Encoder.ppsFor(qp)
    Mp4Samples.encodeFramesFragmented(
      (0 until n).map(t.sample(plain, _)), codec = "avc1", fps = 10,
      width = 16, height = 16, syncEvery = 4,
      sampleEntryExtension = Encoder.avccBox(sps, pps),
      samplesPerFragment = 4)
  }

  private[h264] def deltaLevel(d: Long): Int = 1 + (d % 2).toInt

  private def pDeltaFrame(d: Long, f: Int, qp: Int, sps: Sps): Array[Byte] = {
    val lp = deltaLevel(d)
    val w = new BitWriter
    Encoder.writePSliceHeader(w, sps, f % 4, sliceQpDelta = 0,
      deblock = true)
    w.ue(0) // mb_skip_run
    w.ue(0) // mb_type P_L0_16x16
    w.se(0); w.se(0) // mvd (mvp = (0,0): no neighbors)
    w.ue(Decoder.codeNumFromCbpInter(15)) // luma fully coded, chroma 0
    w.se(0) // mb_qp_delta
    // 16 luma blocks, each a single DC-position level; nC from the
    // in-MB neighbor totalCoeff chain (no external neighbors)
    val nz = new Array[Int](16) // raster bx + by*4
    val zo = Array((0, 0), (1, 0), (0, 1), (1, 1), (2, 0), (3, 0),
      (2, 1), (3, 1), (0, 2), (1, 2), (0, 3), (1, 3), (2, 2), (3, 2),
      (2, 3), (3, 3))
    var k = 0
    while (k < 16) {
      val (bx, by) = zo(k)
      val nc =
        if (bx > 0 && by > 0) (nz(by * 4 + bx - 1) + nz((by - 1) * 4 + bx) + 1) >> 1
        else if (bx > 0) nz(by * 4 + bx - 1)
        else if (by > 0) nz((by - 1) * 4 + bx)
        else 0
      val blk = new Array[Int](16)
      blk(0) = lp
      nz(by * 4 + bx) = Cavlc.writeBlock(w, nc, 16, blk)
      k += 1
    }
    Encoder.avccSampleP(w)
  }

  private def pSkipFrame(f: Int, sps: Sps): Array[Byte] = {
    val w = new BitWriter
    Encoder.writePSliceHeader(w, sps, f % 4, sliceQpDelta = 0,
      deblock = true)
    w.ue(1) // mb_skip_run covering the single MB
    Encoder.avccSampleP(w)
  }

  /** the quarter-pel MV exercised by the g==3 frame */
  def gopMv(d: Long): (Int, Int) = ((d % 7).toInt - 3, (d % 5).toInt - 2)

  private def pMvFrame(d: Long, f: Int, sps: Sps): Array[Byte] = {
    val (mvx, mvy) = gopMv(d)
    val w = new BitWriter
    Encoder.writePSliceHeader(w, sps, f % 4, sliceQpDelta = 0,
      deblock = true)
    w.ue(0) // mb_skip_run
    w.ue(0) // mb_type P_L0_16x16
    w.se(mvx); w.se(mvy) // mvd = mv (mvp = (0,0))
    w.ue(Decoder.codeNumFromCbpInter(0)) // cbp 0
    Encoder.avccSampleP(w)
  }

  /** MULTI-REFERENCE avc1 fixture (mm18): 16x16 single-MB GOPs where
    * P slices index a 2-picture DPB (SPS max_num_ref_frames = 2) —
    * the sliding-window layout real encoders emit. Every ref_idx != 0
    * is DISCRIMINATING: a decoder that ignores ref_idx (always using
    * the most recent picture) or mis-orders list 0 produces a
    * different uniform value at GOP positions 2 and 3. All chroma is
    * uncoded/128, so BT.601 is the identity and channel sums are
    * 256·yv closed-form:
    *
    *  - g = f%4 == 0: IDR, I_16x16 uniform (luma level la, chroma 128).
    *  - g == 1: P (1 active ref), the MB is I_PCM — uniform vb,
    *    lossless, exercising intra-in-P. DPB after: [P1, IDR].
    *  - g == 2: P with 2 active refs, ref_idx_l0 = 1 → the IDR
    *    (NOT the most recent P1), mv (0,0), cbp 0 → copies la's value.
    *    DPB after: [P2, P1].
    *  - g == 3: P with 2 active refs, ref_idx_l0 = 1 → P1 (the PCM
    *    picture, again not most-recent) at a NONZERO quarter-pel MV
    *    (identity over the uniform plane) → copies vb.
    */
  def videoMultiRef(docId: Long, n: Int): Array[Byte] = {
    val qp = qpFor(docId)
    val sps = Encoder.spsFor(16, 16, numRefFrames = 2)
    val pps = Encoder.ppsFor(qp)
    val samples = (0 until n).map { f =>
      val fi = f - f % 4
      (f % 4) match {
        case 0 => i16PlainFrame(docId, f, sps)
        case 1 => pPcmFrame(docId, fi, sps)
        case 2 =>
          val w = new BitWriter
          Encoder.writePSliceHeader(w, sps, 2, sliceQpDelta = 0,
            deblock = true, numRefs = 2)
          w.ue(0) // mb_skip_run
          w.ue(0) // mb_type P_L0_16x16
          Encoder.writeRefIdx(w, 2, 1) // the IDR, not the PCM P
          w.se(0); w.se(0) // mvd (mvp = (0,0): no neighbors)
          w.ue(Decoder.codeNumFromCbpInter(0))
          Encoder.avccSampleP(w)
        case _ =>
          val (mvx, mvy) = gopMv(docId)
          val w = new BitWriter
          Encoder.writePSliceHeader(w, sps, 3, sliceQpDelta = 0,
            deblock = true, numRefs = 2)
          w.ue(0) // mb_skip_run
          w.ue(0) // mb_type P_L0_16x16
          Encoder.writeRefIdx(w, 2, 1) // the PCM P, not the copy P
          w.se(mvx); w.se(mvy)
          w.ue(Decoder.codeNumFromCbpInter(0))
          Encoder.avccSampleP(w)
      }
    }
    Mp4Samples.encodeFrames(samples, codec = "avc1", fps = 10,
      width = 16, height = 16, syncEvery = 4,
      sampleEntryExtension = Encoder.avccBox(sps, pps))
  }

  /** the PCM luma byte of [[videoMultiRef]]'s g==1 frame */
  def multiRefPcmVal(d: Long, fi: Int): Int =
    (16 + (d * 37 + fi * 19) % 224).toInt

  /** I_16x16 uniform IDR with UNCODED chroma (128): luma DC level
    * la = 1 + (d + f) % 5, BT.601-identity friendly */
  private def i16PlainFrame(d: Long, f: Int, sps: Sps): Array[Byte] = {
    val la = 1 + ((d + f) % 5).toInt
    val w = new BitWriter
    Encoder.writeSliceHeader(w, sps, f, sliceQpDelta = 0, deblock = true)
    w.ue(3) // I_16x16, DC pred, luma cbp 0, chroma cbp 0
    w.ue(0) // intra_chroma_pred_mode: DC
    w.se(0) // mb_qp_delta
    val dc = new Array[Int](16)
    dc(0) = la
    Cavlc.writeBlock(w, 0, 16, dc)
    Encoder.avccSample(w)
  }

  /** P slice whose single MB is I_PCM (mb_type 5 + 25): uniform luma
    * [[multiRefPcmVal]], chroma 128 — a lossless reference picture
    * mid-GOP, and the intra-in-P parse path */
  private def pPcmFrame(d: Long, fi: Int, sps: Sps): Array[Byte] = {
    val vb = multiRefPcmVal(d, fi)
    val w = new BitWriter
    Encoder.writePSliceHeader(w, sps, 1, sliceQpDelta = 0,
      deblock = true, numRefs = 1)
    w.ue(0) // mb_skip_run
    w.ue(30) // mb_type: 5 + I_PCM(25)
    w.alignZero()
    var i = 0
    while (i < 256) { w.u(8, vb); i += 1 }
    i = 0
    while (i < 128) { w.u(8, 128); i += 1 }
    Encoder.avccSampleP(w)
  }

  /** B-FRAME avc1 fixture (mm20): decode-order triads [IDR, P, B]
    * displayed as [IDR, B, P] via ctts (+1000/+2000/0 — the classic
    * one-frame reorder delay). The B is a NON-REFERENCE picture
    * (nal_ref_idc 0) whose POC (2) sits between the IDR (0) and the P
    * (4), so the walk's list construction must produce list0 = [IDR,
    * P] and list1 = [P, IDR]; the four B kinds pin the prediction
    * sources:
    *
    *  - t%4 == 0: B_L0_16x16, mv 0, cbp 0 → copies the IDR's uniform
    *    value (a decoder that muddles list0 with "most recent" lands
    *    on the P).
    *  - t%4 == 1: B_L1_16x16 → copies the P's PCM value.
    *  - t%4 == 2: B_Bi_16x16 → the rounded average (ia+vb+1)>>1.
    *  - t%4 == 3: B_Skip → direct mode through the skip-run path;
    *    SPATIAL for even docs (no neighbors = directZeroPrediction)
    *    and TEMPORAL for odd docs (the colocated PCM picture is
    *    intra → mvCol 0, refIdxL0 = 0) — both land on the same bi
    *    average, so one oracle pins both derivations AND the walk's
    *    POC hand-off that temporal direct requires.
    *
    * All chroma is 128 (bi average of 128s = 128), so BT.601 is the
    * identity and channel sums are 256·yv closed-form. */
  def videoB(docId: Long, n: Int): Array[Byte] = {
    val qp = qpFor(docId)
    val sps = Encoder.spsFor(16, 16, numRefFrames = 2)
    val pps = Encoder.ppsFor(qp)
    val samples = (0 until n).map { f =>
      val t = f / 3
      (f % 3) match {
        case 0 => i16PlainFrame(docId, 3 * t, sps)
        case 1 => // decode-order P (displayed after the B)
          val w = new BitWriter
          Encoder.writePSliceHeader(w, sps, 1, sliceQpDelta = 0,
            deblock = true, pocLsbOverride = 4)
          w.ue(0) // mb_skip_run
          w.ue(30) // mb_type: 5 + I_PCM(25)
          w.alignZero()
          val vb = multiRefPcmVal(docId, 3 * t)
          var i = 0
          while (i < 256) { w.u(8, vb); i += 1 }
          i = 0
          while (i < 128) { w.u(8, 128); i += 1 }
          Encoder.avccSampleP(w)
        case _ => // decode-order B (displayed between IDR and P)
          val w = new BitWriter
          // odd docs run their skip triads through TEMPORAL direct
          Encoder.writeBSliceHeader(w, sps, frameNum = 2, pocLsb = 2,
            sliceQpDelta = 0, deblock = true,
            spatialDirect = !(t % 4 == 3 && docId % 2 == 1))
          (t % 4) match {
            case 0 =>
              w.ue(0) // mb_skip_run
              w.ue(1) // B_L0_16x16
              w.se(0); w.se(0)
              w.ue(Decoder.codeNumFromCbpInter(0))
            case 1 =>
              w.ue(0)
              w.ue(2) // B_L1_16x16
              w.se(0); w.se(0)
              w.ue(Decoder.codeNumFromCbpInter(0))
            case 2 =>
              w.ue(0)
              w.ue(3) // B_Bi_16x16
              w.se(0); w.se(0) // mvd_l0
              w.se(0); w.se(0) // mvd_l1
              w.ue(Decoder.codeNumFromCbpInter(0))
            case _ =>
              w.ue(1) // mb_skip_run covering the single MB -> B_Skip
          }
          Encoder.avccSampleB(w)
      }
    }
    val ctts = (0 until n).map(f => (f % 3) match {
      case 0 => 1000L
      case 1 => 2000L
      case _ => 0L
    })
    Mp4Samples.encodeFrames(samples, codec = "avc1", fps = 10,
      width = 16, height = 16, syncEvery = 3,
      sampleEntryExtension = Encoder.avccBox(sps, pps),
      compositionOffsets = ctts)
  }

  /** WEIGHTED-PREDICTION avc1 fixture (mm19): 16x16 single-MB GOPs
    * where the PPS carries weighted_pred_flag and every odd frame is a
    * P-slice COPY of the IDR through an explicit pred_weight_table —
    * the fade tool real encoders emit. Luma: logWD 5,
    * v' = clip(((v·wy + 16) >> 5) + oy); chroma: logWD 6 over the
    * uniform 128 plane, which pushes u/v off neutral so the BT.601
    * matrix runs with real chroma terms. A decoder that skips the
    * weight table, mis-rounds, or applies luma weights to chroma
    * shifts a channel sum. */
  def videoWeighted(docId: Long, n: Int): Array[Byte] = {
    val qp = qpFor(docId)
    val sps = Encoder.spsFor(16, 16)
    val pps = Encoder.ppsFor(qp, weightedPred = true)
    val (wy, oy, wcb, ocb, wcr, ocr) = weightedParams(docId)
    val samples = (0 until n).map { f =>
      if (f % 2 == 0) i16PlainFrame(docId, f, sps)
      else {
        val w = new BitWriter
        Encoder.writePSliceHeader(w, sps, 1, sliceQpDelta = 0,
          deblock = true, numRefs = 1,
          weights = Some(Encoder.WeightSpec(5, 6,
            Seq(Some((wy, oy))), Seq(Some((wcb, ocb, wcr, ocr))))))
        w.ue(0) // mb_skip_run
        w.ue(0) // mb_type P_L0_16x16
        w.se(0); w.se(0) // mvd (mvp = (0,0): no neighbors)
        w.ue(Decoder.codeNumFromCbpInter(0))
        Encoder.avccSampleP(w)
      }
    }
    Mp4Samples.encodeFrames(samples, codec = "avc1", fps = 10,
      width = 16, height = 16, syncEvery = 2,
      sampleEntryExtension = Encoder.avccBox(sps, pps))
  }

  /** (wy, oy, wCb, oCb, wCr, oCr) of [[videoWeighted]]'s P frames */
  def weightedParams(d: Long): (Int, Int, Int, Int, Int, Int) = (
    20 + (d % 25).toInt, (d % 11).toInt - 5,
    56 + (d % 16).toInt, (d % 7).toInt - 3,
    56 + ((2 * d) % 16).toInt, (d % 5).toInt - 2)

  /** MULTI-SLICE avc1 fixture (mm17): 32x16 pictures of two MBs, one
    * slice per MB — the encoder-parallelism layout of real streams.
    * Slice-local availability makes every MB's Intra_16x16 DC predict
    * from nothing (128), so each MB is an independently closed-form
    * uniform block:
    *
    *  - even frames: IDR; slice A = MB0 with luma DC level la, slice B
    *    = MB1 with level lb (chroma uncoded → 128, so RGB == luma).
    *  - odd frames: P; slice A = P_Skip over MB0, slice B = coded
    *    P_L0_16x16 over MB1 adding the uniform delta (lp).
    *
    * Deblock is disabled in-stream (idc 1) so the cross-slice MB edge
    * between two different uniform values stays exact. */
  def videoSlices(docId: Long, n: Int): Array[Byte] = {
    val qp = qpFor(docId)
    val sps = Encoder.spsFor(32, 16)
    val pps = Encoder.ppsFor(qp)
    val samples = (0 until n).map { f =>
      if (f % 2 == 0) {
        val ws = Seq(0, 1).map { mb =>
          val l = if (mb == 0) 1 + ((docId + f) % 5).toInt
          else 1 + ((docId + 2 * f) % 5).toInt
          val w = new BitWriter
          Encoder.writeSliceHeader(w, sps, f, 0, deblock = false,
            firstMb = mb)
          w.ue(3) // I_16x16, DC pred, cbp 0
          w.ue(0) // chroma DC
          w.se(0) // mb_qp_delta
          val dc = new Array[Int](16)
          dc(0) = l
          Cavlc.writeBlock(w, 0, 16, dc) // nC 0: slice-local neighbors
          w
        }
        Encoder.avccSampleMulti(ws, nalType = 5)
      } else {
        val wA = new BitWriter
        Encoder.writePSliceHeader(wA, sps, 1, 0, deblock = false,
          firstMb = 0)
        wA.ue(1) // mb_skip_run covering MB0
        val wB = new BitWriter
        Encoder.writePSliceHeader(wB, sps, 1, 0, deblock = false,
          firstMb = 1)
        wB.ue(0) // mb_skip_run
        wB.ue(0) // P_L0_16x16
        wB.se(0); wB.se(0) // mvd; mvp (0,0) — MB0 is in another slice
        wB.ue(Decoder.codeNumFromCbpInter(15))
        wB.se(0) // mb_qp_delta
        val lp = deltaLevel(docId)
        val nz = new Array[Int](16)
        val zo = Array((0, 0), (1, 0), (0, 1), (1, 1), (2, 0), (3, 0),
          (2, 1), (3, 1), (0, 2), (1, 2), (0, 3), (1, 3), (2, 2), (3, 2),
          (2, 3), (3, 3))
        var k = 0
        while (k < 16) {
          val (bx, by) = zo(k)
          val nc =
            if (bx > 0 && by > 0) (nz(by * 4 + bx - 1) + nz((by - 1) * 4 + bx) + 1) >> 1
            else if (bx > 0) nz(by * 4 + bx - 1)
            else if (by > 0) nz((by - 1) * 4 + bx)
            else 0
          val blk = new Array[Int](16)
          blk(0) = lp
          nz(by * 4 + bx) = Cavlc.writeBlock(wB, nc, 16, blk)
          k += 1
        }
        Encoder.avccSampleMulti(Seq(wA, wB), nalType = 1)
      }
    }
    Mp4Samples.encodeFrames(samples, codec = "avc1", fps = 10,
      width = 32, height = 16, syncEvery = 2,
      sampleEntryExtension = Encoder.avccBox(sps, pps))
  }

  /** EXPLICIT-WEIGHTED-BIPRED avc1 fixture (mm19 extension):
    * decode-order triads [IDR, P(PCM), B] displayed [IDR, B, P] via
    * ctts — like [[videoB]], but the PPS carries weighted_bipred_idc
    * 1, so every B slice header carries a pred_weight_table for BOTH
    * lists (8.4.2.3.2 explicit mode — the fade tool for B pictures).
    * The B kind cycles by triad index t%3:
    *
    *  - 0: B_Bi_16x16 — yv = clip(((ia·w0y + vb·w1y + 32) >> 6) +
    *    ((o0y+o1y+1) >> 1)); chroma weights push u/v off neutral so
    *    BT.601 runs with live chroma terms.
    *  - 1: B_L0_16x16 — single-list weighting with the L0 table.
    *  - 2: B_L1_16x16 — single-list weighting with the L1 table.
    *
    * A decoder that averages instead of weighting, swaps the lists'
    * tables, or mis-rounds the (logWD+1) bi shift lands on a
    * different uniform value and shifts a channel sum. */
  def videoWeightedB(docId: Long, n: Int): Array[Byte] = {
    val qp = qpFor(docId)
    val sps = Encoder.spsFor(16, 16, numRefFrames = 2)
    val pps = Encoder.ppsFor(qp, weightedBipredIdc = 1)
    val p = weightedBParams(docId)
    val w0 = Encoder.WeightSpec(5, 6,
      Seq(Some((p._1, p._2))), Seq(Some((p._5, p._6, p._7, p._8))))
    val w1 = Encoder.WeightSpec(5, 6,
      Seq(Some((p._3, p._4))), Seq(Some((p._9, p._10, p._11, p._12))))
    val samples = (0 until n).map { f =>
      val t = f / 3
      (f % 3) match {
        case 0 => i16PlainFrame(docId, 3 * t, sps)
        case 1 =>
          // P anchor at poc 4 (the B sits between at poc 2)
          val w = new BitWriter
          Encoder.writePSliceHeader(w, sps, 1, sliceQpDelta = 0,
            deblock = true, pocLsbOverride = 4)
          w.ue(0) // mb_skip_run
          w.ue(30) // mb_type: 5 + I_PCM(25)
          w.alignZero()
          val vb = multiRefPcmVal(docId, 3 * t)
          var i = 0
          while (i < 256) { w.u(8, vb); i += 1 }
          i = 0
          while (i < 128) { w.u(8, 128); i += 1 }
          Encoder.avccSampleP(w)
        case _ =>
          val w = new BitWriter
          Encoder.writeBSliceHeader(w, sps, frameNum = 2, pocLsb = 2,
            sliceQpDelta = 0, deblock = true,
            weights0 = Some(w0), weights1 = Some(w1))
          (t % 3) match {
            case 0 =>
              w.ue(0) // mb_skip_run
              w.ue(3) // B_Bi_16x16
              w.se(0); w.se(0) // mvd_l0
              w.se(0); w.se(0) // mvd_l1
              w.ue(Decoder.codeNumFromCbpInter(0))
            case 1 =>
              w.ue(0)
              w.ue(1) // B_L0_16x16
              w.se(0); w.se(0)
              w.ue(Decoder.codeNumFromCbpInter(0))
            case _ =>
              w.ue(0)
              w.ue(2) // B_L1_16x16
              w.se(0); w.se(0)
              w.ue(Decoder.codeNumFromCbpInter(0))
          }
          Encoder.avccSampleB(w)
      }
    }
    val ctts = (0 until n).map(f => (f % 3) match {
      case 0 => 1000L
      case 1 => 2000L
      case _ => 0L
    })
    Mp4Samples.encodeFrames(samples, codec = "avc1", fps = 10,
      width = 16, height = 16, syncEvery = 3,
      sampleEntryExtension = Encoder.avccBox(sps, pps),
      compositionOffsets = ctts)
  }

  /** (w0y, o0y, w1y, o1y, w0cb, o0cb, w0cr, o0cr, w1cb, o1cb, w1cr,
    * o1cr) of [[videoWeightedB]]'s B slices (luma logWD 5, chroma 6) */
  def weightedBParams(d: Long): (Int, Int, Int, Int, Int, Int, Int,
      Int, Int, Int, Int, Int) = (
    20 + (d % 25).toInt, (d % 11).toInt - 5,
    20 + ((3 * d) % 25).toInt, ((2 * d) % 11).toInt - 5,
    56 + (d % 16).toInt, (d % 7).toInt - 3,
    56 + ((2 * d) % 16).toInt, (d % 5).toInt - 2,
    56 + ((3 * d) % 16).toInt, ((2 * d) % 7).toInt - 3,
    56 + ((5 * d) % 16).toInt, ((3 * d) % 5).toInt - 2)

  /** IMPLICIT-WEIGHTED-BIPRED avc1 fixture (weighted_bipred_idc 2,
    * 8.4.2.3.1): triads [IDR poc 0, P poc 6, B poc 2] — the B sits
    * OFF-CENTER between its references, so the POC-derived weights
    * (td 6, tb 2 → tx 2731, dsf 85 → w1 21, w0 43) differ from the
    * 32/32 default average; yv = clip((ia·43 + vb·21 + 32) >> 6).
    * Chroma stays 128 (43+21 = 64 exactly), keeping BT.601 the
    * identity. Before this fixture, an idc-2 stream decoded with the
    * default average — silently wrong pixels, the exact failure class
    * the typed-signal policy exists to prevent. */
  def videoImplicitB(docId: Long, n: Int): Array[Byte] = {
    val qp = qpFor(docId)
    val sps = Encoder.spsFor(16, 16, numRefFrames = 2)
    val pps = Encoder.ppsFor(qp, weightedBipredIdc = 2)
    val samples = (0 until n).map { f =>
      val t = f / 3
      (f % 3) match {
        case 0 => i16PlainFrame(docId, 3 * t, sps)
        case 1 =>
          // P at poc 6 (pocLsbOverride): PCM picture, the far anchor
          val w = new BitWriter
          Encoder.writePSliceHeader(w, sps, 1, sliceQpDelta = 0,
            deblock = true, pocLsbOverride = 6)
          w.ue(0) // mb_skip_run
          w.ue(30) // mb_type: 5 + I_PCM(25)
          w.alignZero()
          val vb = multiRefPcmVal(docId, 3 * t)
          var i = 0
          while (i < 256) { w.u(8, vb); i += 1 }
          i = 0
          while (i < 128) { w.u(8, 128); i += 1 }
          Encoder.avccSampleP(w)
        case _ =>
          val w = new BitWriter
          Encoder.writeBSliceHeader(w, sps, frameNum = 2, pocLsb = 2,
            sliceQpDelta = 0, deblock = true)
          w.ue(0) // mb_skip_run
          w.ue(3) // B_Bi_16x16
          w.se(0); w.se(0) // mvd_l0
          w.se(0); w.se(0) // mvd_l1
          w.ue(Decoder.codeNumFromCbpInter(0))
          Encoder.avccSampleB(w)
      }
    }
    val ctts = (0 until n).map(f => (f % 3) match {
      case 0 => 1000L
      case 1 => 2000L
      case _ => 0L
    })
    Mp4Samples.encodeFrames(samples, codec = "avc1", fps = 10,
      width = 16, height = 16, syncEvery = 3,
      sampleEntryExtension = Encoder.avccBox(sps, pps),
      compositionOffsets = ctts)
  }

  /** REF_PIC_LIST_MODIFICATION avc1 fixture (mm18 extension,
    * 8.2.4.3): GOPs of 4 over a 2-picture sliding window where the
    * copy P slices run with ONE active reference and pull their
    * source to the front by explicit PicNum (idc 0, abs_diff 2):
    *
    *  - g0: IDR, I_16x16 uniform (ia).  DPB [I].
    *  - g1: P PCM (vb, fn 1).  DPB [P1, I].
    *  - g2: P fn 2, modification → PicNum 0 = the IDR (default list
    *    head is P1) → copies ia.  DPB [P2, P1].
    *  - g3: P fn 3, modification → PicNum 1 = P1 (default head is
    *    P2) → copies vb.
    *
    * A decoder that parses the ops but keeps the initialized order
    * decodes g2 = vb, g3 = ia — the values SWAP, so the oracle fails
    * whenever ia != vb. Chroma 128 throughout. */
  def videoModList(docId: Long, n: Int): Array[Byte] = {
    val qp = qpFor(docId)
    val sps = Encoder.spsFor(16, 16, numRefFrames = 2)
    val pps = Encoder.ppsFor(qp)
    val samples = (0 until n).map { f =>
      val fi = f - f % 4
      (f % 4) match {
        case 0 => i16PlainFrame(docId, f, sps)
        case 1 => pPcmFrame(docId, fi, sps)
        case g =>
          val w = new BitWriter
          Encoder.writePSliceHeader(w, sps, g, sliceQpDelta = 0,
            deblock = true, modL0 = Seq((0, 1)))
          w.ue(0) // mb_skip_run
          w.ue(0) // mb_type P_L0_16x16 (ref_idx 0 = the modified head)
          w.se(0); w.se(0) // mvd (mvp = (0,0): no neighbors)
          w.ue(Decoder.codeNumFromCbpInter(0))
          Encoder.avccSampleP(w)
      }
    }
    Mp4Samples.encodeFrames(samples, codec = "avc1", fps = 10,
      width = 16, height = 16, syncEvery = 4,
      sampleEntryExtension = Encoder.avccBox(sps, pps))
  }

  /** MMCO avc1 fixture (mm18 extension, 8.2.5.4): GOPs of 5 where
    * adaptive dec_ref_pic_marking changes which pictures survive in
    * the DPB — a pure-sliding-window walk resolves the same ref_idx
    * (or modification PicNum) to a DIFFERENT picture. Three variants
    * by d % 3:
    *
    *  - 0 (max_num_ref_frames 3): g2 carries MMCO op 1 (unmark
    *    short-term PicNum 1 = P1). g3 then reads ref_idx 1 of
    *    [P2, I] → ia (sliding window would see [P2, P1, I] → vb1);
    *    g4 reads ref_idx 2 of [P3, P2, I] → ia (sliding window
    *    evicted the IDR at g3 → [P3, P2, P1] → vb1).
    *  - 1 (max_num_ref_frames 2): g1 carries MMCO op 3 (convert the
    *    IDR to LONG-TERM idx 0). Long-term pictures are exempt from
    *    the sliding window, so g3/g4's ref_idx 1 reaches the IDR
    *    (ia) while a window-only walk lands on P1/P2 (vb1/vb2).
    *  - 2 (max_num_ref_frames 2): g2 carries MMCO op 5 (RESET): all
    *    refs unmark and the current picture re-bases to frame_num 0 /
    *    POC 0. g3 (stream frame_num 1, per the rebase) pulls PicNum 0
    *    via ref_pic_list_modification → the rebased P2 (vb2); a walk
    *    that ignores op 5 resolves PicNum 0 to the IDR (ia). g4
    *    copies g3 (vb2).
    *
    * Variants 0/1 decode to [ia, vb1, vb2, ia, ia], variant 2 to
    * [ia, vb1, vb2, vb2, vb2]; chroma 128. */
  def videoMmco(docId: Long, n: Int): Array[Byte] = {
    val qp = qpFor(docId)
    val variant = (docId % 3).toInt
    val sps = Encoder.spsFor(16, 16,
      numRefFrames = if (variant == 0) 3 else 2)
    val pps = Encoder.ppsFor(qp)
    val samples = (0 until n).map { f =>
      val fi = f - f % 5
      def copyP(fn: Int, active: Int, refIdx: Int,
          pocLsb: Int = -1, modL0: Seq[(Int, Int)] = Nil): Array[Byte] = {
        val w = new BitWriter
        Encoder.writePSliceHeader(w, sps, fn, sliceQpDelta = 0,
          deblock = true, numRefs = active, pocLsbOverride = pocLsb,
          modL0 = modL0)
        w.ue(0) // mb_skip_run
        w.ue(0) // mb_type P_L0_16x16
        Encoder.writeRefIdx(w, active, refIdx)
        w.se(0); w.se(0) // mvd (mvp = (0,0): no neighbors)
        w.ue(Decoder.codeNumFromCbpInter(0))
        Encoder.avccSampleP(w)
      }
      def pcmP(fn: Int, salt: Int,
          mmco: Seq[(Int, Int, Int)]): Array[Byte] = {
        val w = new BitWriter
        Encoder.writePSliceHeader(w, sps, fn, sliceQpDelta = 0,
          deblock = true, mmco = mmco)
        w.ue(0) // mb_skip_run
        w.ue(30) // mb_type: 5 + I_PCM(25)
        w.alignZero()
        val vb = multiRefPcmVal(docId, fi + salt)
        var i = 0
        while (i < 256) { w.u(8, vb); i += 1 }
        i = 0
        while (i < 128) { w.u(8, 128); i += 1 }
        Encoder.avccSampleP(w)
      }
      (f % 5, variant) match {
        case (0, _) => i16PlainFrame(docId, f, sps)
        case (1, 1) => pcmP(1, 1, Seq((3, 0, 0))) // IDR -> long-term 0
        case (1, _) => pcmP(1, 1, Nil)
        case (2, 0) => pcmP(2, 2, Seq((1, 0, 0))) // unmark P1
        case (2, 2) => pcmP(2, 2, Seq((5, 0, 0))) // full reset
        case (2, _) => pcmP(2, 2, Nil)
        case (3, 2) =>
          // post-reset frame_num restarts at 1; the modification's
          // PicNum 0 must resolve to the REBASED P2, not the IDR
          copyP(1, 1, 0, pocLsb = 2, modL0 = Seq((0, 0)))
        case (3, _) => copyP(3, 2, 1)
        case (_, 0) => copyP(4, 3, 2)
        case (_, 2) => copyP(2, 1, 0, pocLsb = 4)
        case _ => copyP(4, 2, 1)
      }
    }
    Mp4Samples.encodeFrames(samples, codec = "avc1", fps = 10,
      width = 16, height = 16, syncEvery = 5,
      sampleEntryExtension = Encoder.avccBox(sps, pps))
  }
}
