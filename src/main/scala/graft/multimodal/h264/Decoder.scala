package graft.multimodal.h264

/** Pure-JVM H.264 CAVLC decoder: AVCC samples (length-prefixed
  * NALs, avcC config from the mp4 stsd entry) → YUV 4:2:0 pixel
  * planes. Covers the reference's video sampling paths
  * (`pack/samplers.py:102-157` extracts I-frames AND arbitrary
  * segment-center frames via decord/ffmpeg): CAVLC entropy coding,
  * Intra_4x4 / Intra_16x16 / I_PCM macroblocks, P slices with
  * P_Skip / 16x16 / 16x8 / 8x16 / 8x8 (+sub-partition) motion
  * compensation at quarter-pel precision over MULTIPLE reference
  * frames (per-partition ref_idx against a sliding-window DPB),
  * explicit weighted prediction, B slices (two POC-ordered lists,
  * bi-prediction with default averaging AND explicit per-list
  * weighting, spatial + temporal direct with colocated-zero
  * refinement, B_Skip, 16x16/16x8/8x16 and B_8x8 sub-partition
  * types), ref_pic_list_modification (short + long term), MMCO
  * adaptive marking parse (ops surfaced to the DPB walk via
  * [[Yuv.mmco]]), dequant + inverse transforms, in-loop deblocking
  * with full two-list inter boundary-strength derivation. The
  * remaining non-CAVLC/High features — the ones that still `grep
  * UnsupportedFeature` here and in [[Sps]] — raise the typed signal
  * so the FrameSource seam can triage them as the unsupported-codec
  * signal (mm13) instead of emitting garbage pixels: CABAC entropy
  * coding, interlaced fields/MBAFF, 8x8 transform / scaling
  * matrices, chroma formats other than 4:2:0, bit depth > 8, FMO/ASO
  * slice layouts, and per-slice deblock-param divergence.
  */
object Decoder {

  final case class AvcConfig(sps: Sps, pps: Pps, nalLengthSize: Int)

  /** per-4x4-block motion of a decoded picture, kept for B-slice
    * direct-mode colocated derivation (8.4.1.2.2/8.4.1.2.3): refIdx
    * per list (< 0 = intra or list unused), quarter-pel MVs, and the
    * POC of the referenced picture (`refPoc*`, [[Motion.NoPoc]] when
    * none) — temporal direct maps the colocated reference into the
    * current list 0 by POC identity. */
  final case class Motion(ref0: Array[Int], mvx0: Array[Int],
      mvy0: Array[Int], ref1: Array[Int], mvx1: Array[Int],
      mvy1: Array[Int], refPoc0: Array[Int], refPoc1: Array[Int])

  object Motion {
    val NoPoc: Int = Int.MinValue
  }

  /** decoded frame; planes are MB-aligned, `width`/`height` are the
    * cropped picture dims. `poc` and `frameNum` are stamped by the GOP
    * walk (display ordering for B reference lists; PicNum derivation
    * for ref_pic_list_modification and MMCO); `motion` carries the
    * picture's block motion for colocated direct derivation;
    * `longTermIdx >= 0` marks the picture a long-term reference (its
    * LongTermFrameIdx, set by the walk when applying MMCO 3/6);
    * `mmco` carries the picture's OWN dec_ref_pic_marking adaptive
    * ops (op, v1, v2) for the walk to apply to its DPB — the decoder
    * parses marking syntax but DPB state lives in the walk. */
  final case class Yuv(width: Int, height: Int, mbW: Int, mbH: Int,
      y: Array[Int], cb: Array[Int], cr: Array[Int],
      poc: Int = 0, motion: Motion = null, frameNum: Int = -1,
      longTermIdx: Int = -1, mmco: List[(Int, Int, Int)] = Nil) {
    def strideY: Int = mbW * 16
    def strideC: Int = mbW * 8
    def luma(x: Int, yy: Int): Int = y(yy * strideY + x)
    /** nearest-neighbor 4:2:0 chroma at luma coords */
    def chromaB(x: Int, yy: Int): Int = cb((yy / 2) * strideC + x / 2)
    def chromaR(x: Int, yy: Int): Int = cr((yy / 2) * strideC + x / 2)
  }

  /** one inter partition: luma-sample geometry plus per-list refIdx
    * (< 0 = list unused) and quarter-pel MVs */
  private final case class Part(px: Int, py: Int, w: Int, h: Int,
      ref0: Int, mv0x: Int, mv0y: Int,
      ref1: Int = -1, mv1x: Int = 0, mv1y: Int = 0)

  /** parse the avcC box payload (ISO 14496-15 5.2.4.1.1) — every
    * offset is bounds-checked so a corrupt config rejects with the
    * typed IllegalArgumentException, not an unchecked index crash */
  def parseAvcc(b: Array[Byte]): AvcConfig = {
    require(b.length >= 7 && b(0) == 1, "bad avcC")
    @inline def at(i: Int): Int = {
      require(i >= 0 && i < b.length, s"avcC truncated at $i")
      b(i) & 0xff
    }
    def slice(from: Int, until: Int): Array[Byte] = {
      require(from >= 0 && from <= until && until <= b.length,
        s"avcC range [$from,$until) beyond ${b.length}")
      java.util.Arrays.copyOfRange(b, from, until)
    }
    val lengthSize = (at(4) & 3) + 1
    var pos = 5
    val nSps = at(pos) & 0x1f
    pos += 1
    require(nSps >= 1, "avcC without SPS")
    var sps: Sps = null
    var i = 0
    while (i < nSps) {
      val len = (at(pos) << 8) | at(pos + 1)
      pos += 2
      require(len >= 1, "empty SPS NAL in avcC")
      if (i == 0) sps = Sps.parse(Nal.unescape(
        slice(pos + 1, pos + len)))
      pos += len
      i += 1
    }
    val nPps = at(pos)
    pos += 1
    require(nPps >= 1, "avcC without PPS")
    val len = (at(pos) << 8) | at(pos + 1)
    pos += 2
    require(len >= 1, "empty PPS NAL in avcC")
    val pps = Pps.parse(Nal.unescape(slice(pos + 1, pos + len)))
    AvcConfig(sps, pps, lengthSize)
  }

  @inline private def clip(v: Int): Int =
    if (v < 0) 0 else if (v > 255) 255 else v

  /** z-scan order of the 16 luma 4x4 blocks as (bx, by) */
  private val ZOrder: Array[(Int, Int)] = Array(
    (0, 0), (1, 0), (0, 1), (1, 1), (2, 0), (3, 0), (2, 1), (3, 1),
    (0, 2), (1, 2), (0, 3), (1, 3), (2, 2), (3, 2), (2, 3), (3, 3))

  private def zIndex(bx: Int, by: Int): Int =
    ((by >> 1) * 2 + (bx >> 1)) * 4 + (by & 1) * 2 + (bx & 1)

  /** Table 9-4 codeNum → coded_block_pattern, intra column */
  private val CbpIntra: Array[Int] = Array(
    47, 31, 15, 0, 23, 27, 29, 30, 7, 11, 13, 14, 39, 43, 45, 46,
    16, 3, 5, 10, 12, 19, 21, 26, 28, 35, 37, 42, 44, 1, 2, 4,
    8, 17, 18, 20, 24, 6, 9, 22, 25, 32, 33, 34, 36, 40, 38, 41)

  /** Table 9-4 codeNum → coded_block_pattern, inter column */
  private val CbpInter: Array[Int] = Array(
    0, 16, 1, 2, 4, 8, 32, 3, 5, 10, 12, 15, 47, 7, 11, 13,
    14, 6, 9, 31, 35, 37, 42, 44, 33, 34, 36, 40, 39, 43, 45, 46,
    17, 18, 20, 24, 19, 21, 26, 28, 23, 27, 29, 30, 22, 25, 38, 41)

  private[h264] def cbpFromCodeNum(codeNum: Int): Int = {
    require(codeNum < 48, s"coded_block_pattern codeNum $codeNum")
    CbpIntra(codeNum)
  }

  private[h264] def cbpInterFromCodeNum(codeNum: Int): Int = {
    require(codeNum < 48, s"coded_block_pattern codeNum $codeNum")
    CbpInter(codeNum)
  }

  private[h264] def codeNumFromCbp(cbp: Int): Int = {
    val i = CbpIntra.indexOf(cbp)
    require(i >= 0, s"cbp $cbp")
    i
  }

  private[h264] def codeNumFromCbpInter(cbp: Int): Int = {
    val i = CbpInter.indexOf(cbp)
    require(i >= 0, s"cbp $cbp")
    i
  }

  /** decode one AVCC sample into a YUV frame. I-slice samples decode
    * standalone; P-slice samples need `ref`, the previously decoded
    * reference picture (post-deblock) — callers walk forward from the
    * nearest sync sample, the decord seek model the reference relies
    * on (`pack/dataset.py:102-108`). A sample may carry MULTIPLE slice
    * NALs covering consecutive raster MB ranges (the common
    * encoder-parallelism layout); each decodes with slice-local
    * neighbor availability (6.4.9) and the loop filter runs once over
    * the assembled picture. */
  def decode(sample: Array[Byte], cfg: AvcConfig,
      ref: Yuv = null): Yuv =
    decode(sample, cfg,
      if (ref == null) Vector.empty[Yuv] else Vector(ref))

  /** decode against a multi-picture DPB: `refs` is reference list 0 in
    * its initialization order for P slices — most recently decoded
    * short-term reference FIRST (descending PicNum, 8.2.4.2.1). The
    * GOP walk maintains exactly this order by prepending each decoded
    * reference picture and truncating to the SPS max_num_ref_frames
    * sliding window. */
  def decode(sample: Array[Byte], cfg: AvcConfig,
      refs: IndexedSeq[Yuv]): Yuv =
    decode(sample, cfg, refs, Vector.empty[Yuv])

  /** decode with BOTH reference lists — required for B slices, where
    * `list0` orders past-then-future by POC distance and `list1`
    * future-then-past (8.2.4.2.3). P slices use `list0` only. */
  def decode(sample: Array[Byte], cfg: AvcConfig,
      list0: IndexedSeq[Yuv], list1: IndexedSeq[Yuv]): Yuv =
    decode(sample, cfg, list0, list1, Motion.NoPoc)

  /** full form: `curPoc` is THIS picture's POC — temporal direct
    * (8.4.1.2.3) scales the colocated MV by POC distances and cannot
    * run without it (the walk always knows it; callers that pass the
    * [[Motion.NoPoc]] sentinel get a typed signal on temporal-direct
    * streams and full function otherwise). */
  def decode(sample: Array[Byte], cfg: AvcConfig,
      list0: IndexedSeq[Yuv], list1: IndexedSeq[Yuv],
      curPoc: Int): Yuv = {
    val nals = Nal.splitAvccSample(sample, cfg.nalLengthSize)
    val slices = nals.collect {
      case (t, refIdc, rbsp) if t == 5 || t == 1 => (t == 5, refIdc, rbsp)
    }
    if (slices.isEmpty) throw UnsupportedFeature("no slice NAL in sample")
    decodePicture(slices, cfg, list0, list1, curPoc)
  }

  /** true iff the sample's slice NAL is an IDR (type 5) — an IDR
    * resets the DPB: no picture decoded before it may be referenced
    * after it (8.2.5.1). */
  def isIdr(sample: Array[Byte], cfg: AvcConfig): Boolean =
    Nal.splitAvccSample(sample, cfg.nalLengthSize).collectFirst {
      case (t, _, _) if t == 5 || t == 1 => t == 5
    }.getOrElse(false)

  /** cheap slice-header peek (first slice NAL): what a DPB walk needs
    * to order reference lists without decoding — IDR-ness, reference
    * status, slice kind, frame_num, and pic_order_cnt_lsb */
  final case class SliceInfo(idr: Boolean, refIdc: Int, sliceType: Int,
      frameNum: Int, pocLsb: Int) {
    def isB: Boolean = sliceType % 5 == 1
    def isP: Boolean = sliceType % 5 == 0
  }

  def sliceInfo(sample: Array[Byte], cfg: AvcConfig): SliceInfo = {
    val (t, refIdc, rbsp) =
      Nal.splitAvccSample(sample, cfg.nalLengthSize).collectFirst {
        case (tt, ri, rb) if tt == 5 || tt == 1 => (tt, ri, rb)
      }.getOrElse(throw UnsupportedFeature("no slice NAL in sample"))
    val r = new BitReader(rbsp)
    r.ue() // first_mb_in_slice
    val sliceType = r.ue()
    r.ue() // pps id
    val frameNum = r.u(cfg.sps.log2MaxFrameNum)
    if (t == 5) r.ue() // idr_pic_id
    val pocLsb =
      if (cfg.sps.picOrderCntType == 0) r.u(cfg.sps.log2MaxPocLsb) else 0
    SliceInfo(t == 5, refIdc, sliceType, frameNum, pocLsb)
  }

  /** explicit per-reference weighted prediction (7.3.3.2 parse,
    * 8.4.2.3.2 apply): the P-slice fade tool. Arrays are indexed by
    * ref_idx_l0; defaults (1 << logWD, offset 0) mean identity. */
  private[h264] final class WeightTable(val logWDLuma: Int,
      val logWDChroma: Int, val wY: Array[Int], val oY: Array[Int],
      val wCb: Array[Int], val oCb: Array[Int],
      val wCr: Array[Int], val oCr: Array[Int])

  /** weight one MC-predicted region in place (8.4.2.3.2, explicit,
    * single list): v' = Clip1(((v*w + 2^(logWD-1)) >> logWD) + o),
    * degrading to Clip1(v*w + o) at logWD == 0 */
  private def applyWeight(buf: Array[Int], stride: Int, x0: Int, y0: Int,
      w: Int, h: Int, logWD: Int, wgt: Int, off: Int): Unit = {
    val rnd = if (logWD >= 1) 1 << (logWD - 1) else 0
    var dy = 0
    while (dy < h) {
      var dx = 0
      while (dx < w) {
        val i = (y0 + dy) * stride + x0 + dx
        val v =
          if (logWD >= 1) ((buf(i) * wgt + rnd) >> logWD) + off
          else buf(i) * wgt + off
        buf(i) = clip(v)
        dx += 1
      }
      dy += 1
    }
  }

  // scratch holder for a parsed macroblock's residual levels
  private final class MbResidual {
    var mbType = 0
    var isInter = false
    var parts: Array[Part] = null // inter partitions, luma-sample coords
    var intra4x4Modes: Array[Int] = null // decode order z-index
    var i16PredMode = 0
    var chromaPredMode = 0
    var cbp = 0
    var qpY = 0
    var lumaDcLevels: Array[Int] = null // raster over DC grid
    val lumaAc = new Array[Array[Int]](16) // z-index -> raster coeffs
    val chromaDc = new Array[Array[Int]](2)
    val chromaAc = Array.ofDim[Array[Int]](2, 4)
    var pcmY: Array[Int] = null
    var pcmCb: Array[Int] = null
    var pcmCr: Array[Int] = null
    def isPcm: Boolean = pcmY != null
    def isI16: Boolean = !isPcm && !isInter && mbType >= 1
  }

  private def decodePicture(slices: Seq[(Boolean, Int, Array[Byte])],
      cfg: AvcConfig, initList0: IndexedSeq[Yuv],
      initList1: IndexedSeq[Yuv], curPoc: Int): Yuv = {
    val sps = cfg.sps
    val pps = cfg.pps
    // EFFECTIVE reference lists of the current slice: the initialized
    // lists as passed, re-ordered per slice when the header carries
    // ref_pic_list_modification (8.2.4.3). Closures below read these
    // vars, so a per-slice reorder is visible everywhere.
    var list0: IndexedSeq[Yuv] = initList0
    var list1: IndexedSeq[Yuv] = initList1
    // per-slice parse state: the bit reader and the slice's first MB
    // address gate neighbor availability (6.4.9 — MBs of other slices
    // are not available for intra pred, CAVLC nC, or MV prediction)
    var r: BitReader = null
    var firstMbCur = 0
    var sawP = false
    // per-picture deblock params (first slice wins; others must agree —
    // per-slice filter params are a typed unsupported subset)
    var disableDeblock = 0
    var offA = 0
    var offB = 0
    var deblockSet = false

    val mbW = sps.mbWidth
    val mbH = sps.mbHeight
    val strideY = mbW * 16
    val strideC = mbW * 8
    val y = new Array[Int](strideY * mbH * 16)
    val cb = new Array[Int](strideC * mbH * 8)
    val cr = new Array[Int](strideC * mbH * 8)
    // per-4x4-block nonzero-coefficient counts for CAVLC nC contexts
    // (doubles as the deblock bS=2 input for inter MBs)
    val nzY = new Array[Int](mbW * 4 * mbH * 4)
    val nzCb = new Array[Int](mbW * 2 * mbH * 2)
    val nzCr = new Array[Int](mbW * 2 * mbH * 2)
    // per-4x4-block Intra_4x4 modes (DC for non-I4x4 MBs, 8.3.1.1)
    val modeMap = Array.fill(mbW * 4 * mbH * 4)(2)
    val mbQp = new Array[Int](mbW * mbH)
    var prevQp = 0 // reset to each slice's QP at its header
    var isPCur = false
    var isBCur = false
    var activeRefs = 1 // num_ref_idx_l0_active of the current slice
    var activeRefs1 = 1 // num_ref_idx_l1_active (B slices)
    var curWeights: WeightTable = null // pred_weight_table, list 0
    var curWeights1: WeightTable = null // pred_weight_table, list 1 (B)
    var implicitBiCur = false // weighted_bipred_idc == 2 on a B slice
    var curFrameNum = 0 // frame_num of the current slice (= CurrPicNum)
    var mmcoOps: List[(Int, Int, Int)] = Nil // dec_ref_pic_marking ops
    var mmcoSet = false // first slice's marking parsed (even if empty)
    // per-4x4-block motion grids per reference list (8.4.1.3
    // prediction + deblock bS); P slices use list 0 only
    val bCols = mbW * 4
    val bRows = mbH * 4
    val refGrid = Array.fill(bCols * bRows)(MotionPred.Unavail)
    val mvxGrid = new Array[Int](bCols * bRows)
    val mvyGrid = new Array[Int](bCols * bRows)
    val refGrid1 = Array.fill(bCols * bRows)(MotionPred.Unavail)
    val mvxGrid1 = new Array[Int](bCols * bRows)
    val mvyGrid1 = new Array[Int](bCols * bRows)
    // per-block referenced-PICTURE identity for deblock bS (two blocks
    // may reach the same picture through different lists/indices):
    // index into the deduped list0++list1 pool, -1 = none
    val pidPool = new java.util.IdentityHashMap[Yuv, Integer]()
    (initList0 ++ initList1).foreach(p =>
      if (!pidPool.containsKey(p)) pidPool.put(p, pidPool.size()))
    @inline def pidOf(list: IndexedSeq[Yuv], refIdx: Int): Int =
      if (refIdx < 0 || refIdx >= list.length) -1
      else pidPool.get(list(refIdx)).intValue()
    val pidGrid0 = Array.fill(bCols * bRows)(-1)
    val pidGrid1 = Array.fill(bCols * bRows)(-1)
    val refPocGrid0 = Array.fill(bCols * bRows)(Motion.NoPoc)
    val refPocGrid1 = Array.fill(bCols * bRows)(Motion.NoPoc)
    var directSpatialCur = true // direct_spatial_mv_pred_flag of the slice
    val intraMb = new Array[Boolean](mbW * mbH)

    def nzAt(map: Array[Int], cols: Int, bx: Int, by: Int): Int =
      map(by * cols + bx)

    /** ref_idx_lX, te(v)-coded against a list's active count (9.1.1:
      * 1 inverted bit when active == 2, ue otherwise; absent -> 0
      * when active == 1) */
    def readRefIdx(active: Int): Int =
      if (active == 1) 0
      else if (active == 2) 1 - r.u1()
      else {
        val v = r.ue()
        require(v < active, s"ref_idx $v >= $active active")
        v
      }

    /** ref_pic_list_modification ops for one list (7.3.3.1): list of
      * (modification_of_pic_nums_idc, value); empty = flag 0 */
    def parseModOps(): List[(Int, Int)] =
      if (r.u1() == 0) Nil
      else {
        val ops = List.newBuilder[(Int, Int)]
        var idc = r.ue()
        var guard = 0
        while (idc != 3) {
          require(idc <= 2, s"modification_of_pic_nums_idc $idc")
          ops += ((idc, r.ue()))
          guard += 1
          require(guard <= 32, "runaway ref_pic_list_modification")
          idc = r.ue()
        }
        ops.result()
      }

    /** apply 8.2.4.3.1/8.2.4.3.2 list reordering: pull the picture
      * with the signalled PicNum (idc 0/1, short-term, differential
      * against picNumLXPred) or LongTermPicNum (idc 2) to the front,
      * shifting the rest — the literal spec buffer algorithm over a
      * list of active+1 slots, truncated to `active` at the end.
      * Candidates come from the INITIALIZED list (the full DPB as
      * passed by the walk), which must be frameNum-stamped. */
    def applyMod(init: IndexedSeq[Yuv], active: Int,
        ops: List[(Int, Int)]): IndexedSeq[Yuv] = {
      if (ops.isEmpty) return init
      val maxPicNum = 1 << sps.log2MaxFrameNum
      def picNumOf(p: Yuv): Int = {
        require(p.frameNum >= 0,
          "ref_pic_list_modification needs a frameNum-stamped DPB")
        if (p.frameNum > curFrameNum) p.frameNum - maxPicNum
        else p.frameNum
      }
      val buf = new Array[Yuv](active + 1)
      var i = 0
      while (i < buf.length && i < init.length) { buf(i) = init(i); i += 1 }
      var refIdx = 0
      var pred = curFrameNum // picNumLXPred starts at CurrPicNum
      ops.foreach { case (idc, value) =>
        val target =
          if (idc <= 1) {
            val absDiff = value + 1
            var noWrap = if (idc == 0) pred - absDiff else pred + absDiff
            if (noWrap < 0) noWrap += maxPicNum
            else if (noWrap >= maxPicNum) noWrap -= maxPicNum
            pred = noWrap
            val picNum =
              if (noWrap > curFrameNum) noWrap - maxPicNum else noWrap
            init.find(p => p.longTermIdx < 0 && picNumOf(p) == picNum)
              .getOrElse(throw new IllegalArgumentException(
                s"no short-term reference with PicNum $picNum"))
          } else
            init.find(_.longTermIdx == value)
              .getOrElse(throw new IllegalArgumentException(
                s"no long-term reference with LongTermPicNum $value"))
        var c = buf.length - 1
        while (c > refIdx) { buf(c) = buf(c - 1); c -= 1 }
        buf(refIdx) = target
        refIdx += 1
        var n = refIdx
        var ci = refIdx
        while (ci < buf.length) {
          if (buf(ci) ne target) { buf(n) = buf(ci); n += 1 }
          ci += 1
        }
      }
      val out = buf.take(active).toVector
      require(out.forall(_ != null), "modified reference list underfilled")
      out
    }

    /** pred_weight_table (7.3.3.2): l0 entries, then l1 entries on a
      * B slice. Returns (list0 table, list1 table or null). */
    def parseWeightTable(withL1: Boolean): (WeightTable, WeightTable) = {
      val lwd = r.ue()
      require(lwd <= 7, s"luma_log2_weight_denom $lwd")
      val cwd = r.ue()
      require(cwd <= 7, s"chroma_log2_weight_denom $cwd")
      def listTable(active: Int): WeightTable = {
        val wt = new WeightTable(lwd, cwd,
          Array.fill(active)(1 << lwd), new Array[Int](active),
          Array.fill(active)(1 << cwd), new Array[Int](active),
          Array.fill(active)(1 << cwd), new Array[Int](active))
        var i = 0
        while (i < active) {
          if (r.u1() == 1) { wt.wY(i) = r.se(); wt.oY(i) = r.se() }
          if (r.u1() == 1) {
            wt.wCb(i) = r.se(); wt.oCb(i) = r.se()
            wt.wCr(i) = r.se(); wt.oCr(i) = r.se()
          }
          i += 1
        }
        wt
      }
      val t0 = listTable(activeRefs)
      (t0, if (withL1) listTable(activeRefs1) else null)
    }

    /** luma-block-grid neighbor availability: inside the picture AND in
      * the current slice (6.4.9) */
    @inline def availLumaBlk(gbx: Int, gby: Int): Boolean =
      gbx >= 0 && gby >= 0 &&
        (gby / 4) * mbW + gbx / 4 >= firstMbCur

    @inline def availChromaBlk(gbx: Int, gby: Int): Boolean =
      gbx >= 0 && gby >= 0 &&
        (gby / 2) * mbW + gbx / 2 >= firstMbCur

    def lumaNc(gbx: Int, gby: Int): Int = {
      val hasA = gbx > 0 && availLumaBlk(gbx - 1, gby)
      val hasB = gby > 0 && availLumaBlk(gbx, gby - 1)
      if (hasA && hasB)
        (nzAt(nzY, mbW * 4, gbx - 1, gby) + nzAt(nzY, mbW * 4, gbx, gby - 1) + 1) >> 1
      else if (hasA) nzAt(nzY, mbW * 4, gbx - 1, gby)
      else if (hasB) nzAt(nzY, mbW * 4, gbx, gby - 1)
      else 0
    }

    def chromaNc(map: Array[Int], gbx: Int, gby: Int): Int = {
      val hasA = gbx > 0 && availChromaBlk(gbx - 1, gby)
      val hasB = gby > 0 && availChromaBlk(gbx, gby - 1)
      if (hasA && hasB)
        (nzAt(map, mbW * 2, gbx - 1, gby) + nzAt(map, mbW * 2, gbx, gby - 1) + 1) >> 1
      else if (hasA) nzAt(map, mbW * 2, gbx - 1, gby)
      else if (hasB) nzAt(map, mbW * 2, gbx, gby - 1)
      else 0
    }

    /** zig-zag scan positions -> 4x4 raster */
    def unscan(coeffs: Array[Int], skipDc: Boolean): Array[Int] = {
      val out = new Array[Int](16)
      val off = if (skipDc) 1 else 0
      var k = 0
      while (k < coeffs.length) {
        out(Transform.ZigZag4x4(k + off)) = coeffs(k)
        k += 1
      }
      out
    }

    /** mark every 4x4 block of MB (mbX, mbY) intra in the motion grids */
    def markIntra(mbX: Int, mbY: Int): Unit = {
      intraMb(mbY * mbW + mbX) = true
      var by = 0
      while (by < 4) {
        var bx = 0
        while (bx < 4) {
          refGrid((mbY * 4 + by) * bCols + mbX * 4 + bx) = MotionPred.Intra
          refGrid1((mbY * 4 + by) * bCols + mbX * 4 + bx) = MotionPred.Intra
          bx += 1
        }
        by += 1
      }
    }

    /** fill one list's motion grid for a partition (luma sample
      * coords); refIdx < 0 marks the list unused by this partition */
    def fillMvList(list: Int, px: Int, py: Int, w: Int, h: Int,
        refIdx: Int, mvx: Int, mvy: Int): Unit = {
      val (rg, mxg, myg, pg, pocg, lst) =
        if (list == 0)
          (refGrid, mvxGrid, mvyGrid, pidGrid0, refPocGrid0, list0)
        else (refGrid1, mvxGrid1, mvyGrid1, pidGrid1, refPocGrid1, list1)
      val code = if (refIdx < 0) MotionPred.Intra else refIdx
      val pid = pidOf(lst, refIdx)
      val rpoc =
        if (refIdx >= 0 && refIdx < lst.length) lst(refIdx).poc
        else Motion.NoPoc
      var by = py / 4
      while (by < (py + h) / 4) {
        var bx = px / 4
        while (bx < (px + w) / 4) {
          rg(by * bCols + bx) = code
          mxg(by * bCols + bx) = mvx
          myg(by * bCols + bx) = mvy
          pg(by * bCols + bx) = pid
          pocg(by * bCols + bx) = rpoc
          bx += 1
        }
        by += 1
      }
    }

    /** P-path convenience: list 0 only (list 1 grids stay Unavail) */
    def fillMv(px: Int, py: Int, w: Int, h: Int, refIdx: Int,
        mvx: Int, mvy: Int): Unit =
      fillMvList(0, px, py, w, h, refIdx, mvx, mvy)

    /** parse one intra macroblock_layer (mb.mbType already set to the
      * I-slice-table value 0..25) */
    def parseIntraMb(mb: MbResidual, mbX: Int, mbY: Int): Unit = {
      markIntra(mbX, mbY)
      if (mb.mbType == 25) { // I_PCM
        r.alignToByte()
        mb.pcmY = Array.fill(256)(r.u(8))
        mb.pcmCb = Array.fill(64)(r.u(8))
        mb.pcmCr = Array.fill(64)(r.u(8))
        mb.qpY = prevQp // unchanged for subsequent delta chains
        mbQp(mbY * mbW + mbX) = 0 // 8.7.2: PCM edges filter with QP 0
        var k = 0
        while (k < 16) {
          val (bx, by) = ZOrder(k)
          nzY((mbY * 4 + by) * mbW * 4 + mbX * 4 + bx) = 16
          k += 1
        }
        var c = 0
        while (c < 4) {
          nzCb((mbY * 2 + c / 2) * mbW * 2 + mbX * 2 + c % 2) = 16
          nzCr((mbY * 2 + c / 2) * mbW * 2 + mbX * 2 + c % 2) = 16
          c += 1
        }
        return
      }
      if (mb.mbType == 0) { // I_NxN = Intra_4x4 (no 8x8 in baseline)
        mb.intra4x4Modes = new Array[Int](16)
        var k = 0
        while (k < 16) {
          val (bx, by) = ZOrder(k)
          val gbx = mbX * 4 + bx
          val gby = mbY * 4 + by
          val mA = if (gbx > 0 && availLumaBlk(gbx - 1, gby))
            modeMap(gby * mbW * 4 + gbx - 1) else 2
          val mB = if (gby > 0 && availLumaBlk(gbx, gby - 1))
            modeMap((gby - 1) * mbW * 4 + gbx) else 2
          val pred = math.min(mA, mB)
          mb.intra4x4Modes(k) =
            if (r.u1() == 1) pred
            else { val rem = r.u(3); if (rem < pred) rem else rem + 1 }
          modeMap(gby * mbW * 4 + gbx) = mb.intra4x4Modes(k)
          k += 1
        }
        mb.chromaPredMode = r.ue()
        val codeNum = r.ue()
        mb.cbp = cbpFromCodeNum(codeNum)
      } else { // I_16x16, mb_type 1..24
        val t = mb.mbType - 1
        mb.i16PredMode = t % 4
        mb.cbp = ((t / 4) % 3 << 4) | (if (t >= 12) 15 else 0)
        mb.chromaPredMode = r.ue()
      }
      require(mb.chromaPredMode <= 3, "chroma pred mode")

      if (mb.cbp != 0 || mb.isI16) {
        val delta = r.se()
        require(delta >= -26 && delta <= 25, s"mb_qp_delta $delta")
        prevQp = ((prevQp + delta + 52) % 52)
      }
      mb.qpY = prevQp
      mbQp(mbY * mbW + mbX) = prevQp

      // --- residual (7.3.5.3.2, CAVLC) ---
      if (mb.isI16) {
        val blk = Cavlc.readBlock(r, lumaNc(mbX * 4, mbY * 4), 16)
        mb.lumaDcLevels = unscan(blk.coeffs, skipDc = false)
      }
      parseLumaAcAndChroma(mb, mbX, mbY, i16 = mb.isI16)
    }

    /** shared luma-AC + chroma residual parse (intra and inter) */
    def parseLumaAcAndChroma(mb: MbResidual, mbX: Int, mbY: Int,
        i16: Boolean): Unit = {
      var i8 = 0
      while (i8 < 4) {
        var i4 = 0
        while (i4 < 4) {
          val k = i8 * 4 + i4
          val (bx, by) = ZOrder(k)
          val gbx = mbX * 4 + bx
          val gby = mbY * 4 + by
          if ((mb.cbp & (1 << i8)) != 0) {
            val nc = lumaNc(gbx, gby)
            val blk =
              if (i16) Cavlc.readBlock(r, nc, 15)
              else Cavlc.readBlock(r, nc, 16)
            mb.lumaAc(k) = unscan(blk.coeffs, skipDc = i16)
            nzY(gby * mbW * 4 + gbx) = blk.totalCoeff
          } else nzY(gby * mbW * 4 + gbx) = 0
          i4 += 1
        }
        i8 += 1
      }
      val cbpChroma = mb.cbp >> 4
      if (cbpChroma != 0) {
        var c = 0
        while (c < 2) {
          mb.chromaDc(c) = Cavlc.readBlock(r, -1, 4).coeffs
          c += 1
        }
      }
      var c = 0
      while (c < 2) {
        val map = if (c == 0) nzCb else nzCr
        var b = 0
        while (b < 4) {
          val gbx = mbX * 2 + b % 2
          val gby = mbY * 2 + b / 2
          if (cbpChroma == 2) {
            val blk = Cavlc.readBlock(r, chromaNc(map, gbx, gby), 15)
            mb.chromaAc(c)(b) = unscan(blk.coeffs, skipDc = true)
            map(gby * mbW * 2 + gbx) = blk.totalCoeff
          } else map(gby * mbW * 2 + gbx) = 0
          b += 1
        }
        c += 1
      }
    }

    /** parse one inter macroblock_layer (P slice, mb_type 0..4) */
    def parseInterMb(mb: MbResidual, pMbType: Int, mbX: Int, mbY: Int): Unit = {
      mb.isInter = true
      val bx0 = mbX * 4
      val by0 = mbY * 4
      val parts = Array.newBuilder[Part]

      def readRef(): Int = readRefIdx(activeRefs)

      def readMv(px: Int, py: Int, w: Int, h: Int, kind: Int,
          refIdx: Int): Unit = {
        val mvdx = r.se()
        val mvdy = r.se()
        val (mpx, mpy) = MotionPred.predict(refGrid, mvxGrid, mvyGrid,
          bCols, bRows, bx0 + px / 4, by0 + py / 4, w / 4, h / 4, kind,
          firstMbCur, refIdx)
        val mvx = mpx + mvdx
        val mvy = mpy + mvdy
        fillMv(mbX * 16 + px, mbY * 16 + py, w, h, refIdx, mvx, mvy)
        parts += Part(px, py, w, h, refIdx, mvx, mvy)
      }

      // 7.3.5.1 mb_pred ordering: ALL partitions' ref_idx_l0 first,
      // then all partitions' mvd_l0
      pMbType match {
        case 0 =>
          val r0 = readRef()
          readMv(0, 0, 16, 16, MotionPred.PartNormal, r0)
        case 1 =>
          val r0 = readRef()
          val r1 = readRef()
          readMv(0, 0, 16, 8, MotionPred.Part16x8Top, r0)
          readMv(0, 8, 16, 8, MotionPred.Part16x8Bottom, r1)
        case 2 =>
          val r0 = readRef()
          val r1 = readRef()
          readMv(0, 0, 8, 16, MotionPred.Part8x16Left, r0)
          readMv(8, 0, 8, 16, MotionPred.Part8x16Right, r1)
        case pt => // P_8x8 (3) / P_8x8ref0 (4), Table 7-17 sub_mb_types
          val subTypes = Array.fill(4)(r.ue())
          subTypes.foreach(t =>
            require(t <= 3, s"sub_mb_type $t"))
          // sub_mb_pred (7.3.5.2): ref_idx_l0 per 8x8 partition first
          // (P_8x8ref0 pins all four to 0 without transmitting them)
          val refs8 =
            if (pt == 4) Array.fill(4)(0) else Array.fill(4)(readRef())
          var q = 0
          while (q < 4) {
            val ox = (q % 2) * 8
            val oy = (q / 2) * 8
            val rq = refs8(q)
            subTypes(q) match {
              case 0 => readMv(ox, oy, 8, 8, MotionPred.PartNormal, rq)
              case 1 =>
                readMv(ox, oy, 8, 4, MotionPred.PartNormal, rq)
                readMv(ox, oy + 4, 8, 4, MotionPred.PartNormal, rq)
              case 2 =>
                readMv(ox, oy, 4, 8, MotionPred.PartNormal, rq)
                readMv(ox + 4, oy, 4, 8, MotionPred.PartNormal, rq)
              case _ =>
                var s = 0
                while (s < 4) {
                  readMv(ox + (s % 2) * 4, oy + (s / 2) * 4, 4, 4,
                    MotionPred.PartNormal, rq)
                  s += 1
                }
            }
            q += 1
          }
      }
      mb.parts = parts.result()

      mb.cbp = cbpInterFromCodeNum(r.ue())
      if (mb.cbp != 0) {
        val delta = r.se()
        require(delta >= -26 && delta <= 25, s"mb_qp_delta $delta")
        prevQp = ((prevQp + delta + 52) % 52)
      }
      mb.qpY = prevQp
      mbQp(mbY * mbW + mbX) = prevQp
      parseLumaAcAndChroma(mb, mbX, mbY, i16 = false)
    }

    /** MB-level spatial direct derivation (8.4.1.2.2): per-list
      * refIdx = MinPositive over the A/B/C neighbors OF THE MB, plus
      * the 16x16 median MV prediction for each list. Shared by
      * B_Direct_16x16 / B_Skip and per-8x8 B_Direct_8x8. */
    def directMbLevel(mbX: Int, mbY: Int): (Int, Int, Int, Int, Int, Int) = {
      val bx = mbX * 4
      val by = mbY * 4
      /** raw neighbor ref code: -2 unavailable, -1 intra/no-list,
        * >= 0 refIdx — C falls back to D only when UNAVAILABLE */
      def nbrRef(g: Array[Int]): Int = {
        def raw(x: Int, y: Int): Int =
          if (x < 0 || y < 0 || x >= bCols || y >= bRows) MotionPred.Unavail
          else if ((y / 4) * mbW + x / 4 < firstMbCur) MotionPred.Unavail
          else g(y * bCols + x)
        val ra = raw(bx - 1, by)
        val rb = raw(bx, by - 1)
        var rc = raw(bx + 4, by - 1)
        if (rc == MotionPred.Unavail) rc = raw(bx - 1, by - 1)
        def pos(v: Int) = if (v >= 0) v else Int.MaxValue
        val m = math.min(pos(ra), math.min(pos(rb), pos(rc)))
        if (m == Int.MaxValue) -1 else m
      }
      val ref0 = nbrRef(refGrid)
      val ref1 = nbrRef(refGrid1)
      val (m0x, m0y) =
        if (ref0 >= 0) MotionPred.predict(refGrid, mvxGrid, mvyGrid,
          bCols, bRows, bx, by, 4, 4, MotionPred.PartNormal,
          firstMbCur, ref0)
        else (0, 0)
      val (m1x, m1y) =
        if (ref1 >= 0) MotionPred.predict(refGrid1, mvxGrid1, mvyGrid1,
          bCols, bRows, bx, by, 4, 4, MotionPred.PartNormal,
          firstMbCur, ref1)
        else (0, 0)
      (ref0, ref1, m0x, m0y, m1x, m1y)
    }

    /** one TEMPORAL direct 8x8 (8.4.1.2.3): the colocated block's MV
      * scaled by POC distances — mvL0 = (DistScaleFactor·mvCol+128)>>8
      * with DistScaleFactor from tb/td (current/ref vs col/ref POC
      * deltas); mvL1 = mvL0 − mvCol; refIdxL0 maps the colocated
      * reference into the current list 0 by POC, refIdxL1 = 0. Fills
      * both lists' grids and returns the Part. */
    def temporalDirectPartFor(mbX: Int, mbY: Int, q: Int): Part = {
      if (curPoc == Motion.NoPoc)
        throw UnsupportedFeature("temporal direct without picture POC")
      require(list1.nonEmpty, "B direct without list1")
      val bx = mbX * 4
      val by = mbY * 4
      val ox = (q % 2) * 8
      val oy = (q / 2) * 8
      val colPic = list1(0)
      val cm = colPic.motion
      // direct_8x8_inference corner 4x4 of this 8x8
      val ci = (by + (q / 2) * 3) * bCols + (bx + (q % 2) * 3)
      val (colRefPoc, cvx, cvy) =
        if (cm == null) (Motion.NoPoc, 0, 0)
        else if (cm.ref0(ci) >= 0)
          (cm.refPoc0(ci), cm.mvx0(ci), cm.mvy0(ci))
        else if (cm.ref1(ci) >= 0)
          (cm.refPoc1(ci), cm.mvx1(ci), cm.mvy1(ci))
        else (Motion.NoPoc, 0, 0)
      val (r0, m0x, m0y, m1x, m1y) =
        if (colRefPoc == Motion.NoPoc) {
          // colocated intra (or motion-less): mvCol = 0, refIdxL0 = 0
          (0, 0, 0, 0, 0)
        } else {
          val idx0 = list0.indexWhere(_.poc == colRefPoc)
          if (idx0 < 0) throw UnsupportedFeature(
            "temporal direct: colocated reference not in list 0")
          @inline def clip3(lo: Int, hi: Int, v: Int) =
            if (v < lo) lo else if (v > hi) hi else v
          val refPoc = list0(idx0).poc
          val td = clip3(-128, 127, colPic.poc - refPoc)
          if (td == 0) (idx0, cvx, cvy, 0, 0)
          else {
            val tb = clip3(-128, 127, curPoc - refPoc)
            val tx = (16384 + math.abs(td / 2)) / td
            val dsf = clip3(-1024, 1023, (tb * tx + 32) >> 6)
            val l0x = (dsf * cvx + 128) >> 8
            val l0y = (dsf * cvy + 128) >> 8
            (idx0, l0x, l0y, l0x - cvx, l0y - cvy)
          }
        }
      fillMvList(0, mbX * 16 + ox, mbY * 16 + oy, 8, 8, r0, m0x, m0y)
      fillMvList(1, mbX * 16 + ox, mbY * 16 + oy, 8, 8, 0, m1x, m1y)
      Part(ox, oy, 8, 8, r0, m0x, m0y, 0, m1x, m1y)
    }

    /** one SPATIAL direct 8x8 (q = z-index of the 8x8): colocated-zero
      * refinement (direct_8x8_inference corner sampling) over the
      * MB-level derivation; fills both lists' grids and returns the
      * Part. directZeroPrediction (both refs < 0) pins refIdx 0 /
      * zero MVs on both lists. */
    def directPartFor(mbX: Int, mbY: Int, q: Int, ref0: Int, ref1: Int,
        m0x: Int, m0y: Int, m1x: Int, m1y: Int): Part = {
      val bx = mbX * 4
      val by = mbY * 4
      val ox = (q % 2) * 8
      val oy = (q / 2) * 8
      if (ref0 < 0 && ref1 < 0) {
        require(list1.nonEmpty, "B direct without list1")
        fillMvList(0, mbX * 16 + ox, mbY * 16 + oy, 8, 8, 0, 0, 0)
        fillMvList(1, mbX * 16 + ox, mbY * 16 + oy, 8, 8, 0, 0, 0)
        Part(ox, oy, 8, 8, 0, 0, 0, 0, 0, 0)
      } else {
        val cm = if (list1.nonEmpty) list1(0).motion else null
        // direct_8x8_inference: sample the colocated corner 4x4
        val cx = bx + (q % 2) * 3
        val cy = by + (q / 2) * 3
        val colZero =
          if (cm == null) false
          else {
            val ci = cy * bCols + cx
            val (cr0, cvx, cvy) =
              if (cm.ref0(ci) >= 0) (cm.ref0(ci), cm.mvx0(ci), cm.mvy0(ci))
              else if (cm.ref1(ci) >= 0)
                (cm.ref1(ci), cm.mvx1(ci), cm.mvy1(ci))
              else (-1, 0, 0)
            cr0 == 0 && math.abs(cvx) <= 1 && math.abs(cvy) <= 1
          }
        val (p0x, p0y) = if (ref0 == 0 && colZero) (0, 0) else (m0x, m0y)
        val (p1x, p1y) = if (ref1 == 0 && colZero) (0, 0) else (m1x, m1y)
        val f0x = if (ref0 >= 0) p0x else 0
        val f0y = if (ref0 >= 0) p0y else 0
        val f1x = if (ref1 >= 0) p1x else 0
        val f1y = if (ref1 >= 0) p1y else 0
        fillMvList(0, mbX * 16 + ox, mbY * 16 + oy, 8, 8, ref0, f0x, f0y)
        fillMvList(1, mbX * 16 + ox, mbY * 16 + oy, 8, 8, ref1, f1x, f1y)
        Part(ox, oy, 8, 8, ref0, f0x, f0y, ref1, f1x, f1y)
      }
    }

    /** B_Direct_16x16 / B_Skip: the four direct 8x8 Parts, spatial or
      * temporal per the slice's direct_spatial_mv_pred_flag */
    def directSpatialParts(mbX: Int, mbY: Int): Array[Part] =
      if (!directSpatialCur)
        Array.tabulate(4)(q => temporalDirectPartFor(mbX, mbY, q))
      else {
        val (r0, r1, m0x, m0y, m1x, m1y) = directMbLevel(mbX, mbY)
        Array.tabulate(4)(q =>
          directPartFor(mbX, mbY, q, r0, r1, m0x, m0y, m1x, m1y))
      }

    /** parse one B-slice inter macroblock_layer (Table 7-14 mb_type
      * 0..21: direct, 16x16, and two-partition shapes; B_8x8 stays a
      * typed signal) */
    def parseBMb(mb: MbResidual, bMbType: Int, mbX: Int, mbY: Int): Unit = {
      mb.isInter = true
      val bx0 = mbX * 4
      val by0 = mbY * 4

      if (bMbType == 0) { // B_Direct_16x16
        mb.parts = directSpatialParts(mbX, mbY)
      } else if (bMbType <= 3) { // 16x16: L0 / L1 / Bi
        val use0 = bMbType == 1 || bMbType == 3
        val use1 = bMbType == 2 || bMbType == 3
        val r0 = if (use0) readRefIdx(activeRefs) else -1
        val r1 = if (use1) readRefIdx(activeRefs1) else -1
        var mv0 = (0, 0)
        var mv1 = (0, 0)
        if (use0) {
          val dx = r.se(); val dy = r.se()
          val (px, py) = MotionPred.predict(refGrid, mvxGrid, mvyGrid,
            bCols, bRows, bx0, by0, 4, 4, MotionPred.PartNormal,
            firstMbCur, r0)
          mv0 = (px + dx, py + dy)
        }
        if (use1) {
          val dx = r.se(); val dy = r.se()
          val (px, py) = MotionPred.predict(refGrid1, mvxGrid1, mvyGrid1,
            bCols, bRows, bx0, by0, 4, 4, MotionPred.PartNormal,
            firstMbCur, r1)
          mv1 = (px + dx, py + dy)
        }
        fillMvList(0, mbX * 16, mbY * 16, 16, 16, r0, mv0._1, mv0._2)
        fillMvList(1, mbX * 16, mbY * 16, 16, 16, r1, mv1._1, mv1._2)
        mb.parts = Array(Part(0, 0, 16, 16, r0, mv0._1, mv0._2,
          r1, mv1._1, mv1._2))
      } else if (bMbType <= 21) {
        // two-partition shapes: even = 16x8, odd = 8x16; per-partition
        // list usage from Table 7-14's L0/L1/Bi pattern
        val pattern = Vector(
          ("L0", "L0"), ("L0", "L0"), ("L1", "L1"), ("L1", "L1"),
          ("L0", "L1"), ("L0", "L1"), ("L1", "L0"), ("L1", "L0"),
          ("L0", "Bi"), ("L0", "Bi"), ("L1", "Bi"), ("L1", "Bi"),
          ("Bi", "L0"), ("Bi", "L0"), ("Bi", "L1"), ("Bi", "L1"),
          ("Bi", "Bi"), ("Bi", "Bi"))(bMbType - 4)
        val is16x8 = (bMbType - 4) % 2 == 0
        def uses(tag: String): (Boolean, Boolean) = tag match {
          case "L0" => (true, false)
          case "L1" => (false, true)
          case _ => (true, true)
        }
        val (u0a, u1a) = uses(pattern._1)
        val (u0b, u1b) = uses(pattern._2)
        // 7.3.5.1 ordering: all ref_idx_l0, all ref_idx_l1, all
        // mvd_l0, all mvd_l1 (partition order inside each)
        val r0a = if (u0a) readRefIdx(activeRefs) else -1
        val r0b = if (u0b) readRefIdx(activeRefs) else -1
        val r1a = if (u1a) readRefIdx(activeRefs1) else -1
        val r1b = if (u1b) readRefIdx(activeRefs1) else -1
        val geoms =
          if (is16x8) Array((0, 0, 16, 8, MotionPred.Part16x8Top),
            (0, 8, 16, 8, MotionPred.Part16x8Bottom))
          else Array((0, 0, 8, 16, MotionPred.Part8x16Left),
            (8, 0, 8, 16, MotionPred.Part8x16Right))
        val mv0 = Array((0, 0), (0, 0))
        val mv1 = Array((0, 0), (0, 0))
        val use0 = Array(u0a, u0b)
        val use1 = Array(u1a, u1b)
        val ref0 = Array(r0a, r0b)
        val ref1 = Array(r1a, r1b)
        var p = 0
        while (p < 2) { // mvd_l0 pass — fill grid as each resolves
          if (use0(p)) {
            val (ox, oy, w0, h0, kind) = geoms(p)
            val dx = r.se(); val dy = r.se()
            val (px, py) = MotionPred.predict(refGrid, mvxGrid, mvyGrid,
              bCols, bRows, bx0 + ox / 4, by0 + oy / 4, w0 / 4, h0 / 4,
              kind, firstMbCur, ref0(p))
            mv0(p) = (px + dx, py + dy)
            fillMvList(0, mbX * 16 + ox, mbY * 16 + oy, w0, h0, ref0(p),
              mv0(p)._1, mv0(p)._2)
          } else {
            val (ox, oy, w0, h0, _) = geoms(p)
            fillMvList(0, mbX * 16 + ox, mbY * 16 + oy, w0, h0, -1, 0, 0)
          }
          p += 1
        }
        p = 0
        while (p < 2) { // mvd_l1 pass
          if (use1(p)) {
            val (ox, oy, w0, h0, kind) = geoms(p)
            val dx = r.se(); val dy = r.se()
            val (px, py) = MotionPred.predict(refGrid1, mvxGrid1,
              mvyGrid1, bCols, bRows, bx0 + ox / 4, by0 + oy / 4,
              w0 / 4, h0 / 4, kind, firstMbCur, ref1(p))
            mv1(p) = (px + dx, py + dy)
            fillMvList(1, mbX * 16 + ox, mbY * 16 + oy, w0, h0, ref1(p),
              mv1(p)._1, mv1(p)._2)
          } else {
            val (ox, oy, w0, h0, _) = geoms(p)
            fillMvList(1, mbX * 16 + ox, mbY * 16 + oy, w0, h0, -1, 0, 0)
          }
          p += 1
        }
        mb.parts = Array.tabulate(2) { q =>
          val (ox, oy, w0, h0, _) = geoms(q)
          Part(ox, oy, w0, h0, ref0(q), mv0(q)._1, mv0(q)._2,
            ref1(q), mv1(q)._1, mv1(q)._2)
        }
      } else if (bMbType == 22) { // B_8x8 (Table 7-18 sub_mb_types)
        val subT = Array.fill(4)(r.ue())
        subT.foreach(t => require(t <= 12, s"B sub_mb_type $t"))
        def u0(t: Int): Boolean = t == 1 || t == 3 || t == 4 || t == 5 ||
          t == 8 || t == 9 || t == 10 || t == 12
        def u1(t: Int): Boolean = t == 2 || t == 3 ||
          (t >= 6 && t <= 9) || t == 11 || t == 12
        /** sub-partition geometry within the 8x8, (sx, sy, w, h) */
        def geom(t: Int): Array[(Int, Int, Int, Int)] = t match {
          case 1 | 2 | 3 => Array((0, 0, 8, 8))
          case 4 | 6 | 8 => Array((0, 0, 8, 4), (0, 4, 8, 4))
          case 5 | 7 | 9 => Array((0, 0, 4, 8), (4, 0, 4, 8))
          case _ => Array((0, 0, 4, 4), (4, 0, 4, 4), (0, 4, 4, 4),
            (4, 4, 4, 4))
        }
        // MB-level direct derivation uses only OUTSIDE-MB neighbors —
        // compute once, then fill the direct 8x8s' grids immediately
        // (they are MV-prediction neighbors for coded sub-partitions)
        val needDirect = subT.exists(_ == 0)
        val (dr0, dr1, dm0x, dm0y, dm1x, dm1y) =
          if (needDirect && directSpatialCur) directMbLevel(mbX, mbY)
          else (0, 0, 0, 0, 0, 0)
        val directParts = new Array[Part](4)
        var q = 0
        while (q < 4) {
          if (subT(q) == 0)
            directParts(q) =
              if (directSpatialCur)
                directPartFor(mbX, mbY, q, dr0, dr1,
                  dm0x, dm0y, dm1x, dm1y)
              else temporalDirectPartFor(mbX, mbY, q)
          q += 1
        }
        // sub_mb_pred (7.3.5.2): ref_idx_l0 pass, ref_idx_l1 pass,
        // then mvd_l0 and mvd_l1 passes (sub-partitions in order)
        val r0 = Array.tabulate(4)(q =>
          if (subT(q) != 0 && u0(subT(q))) readRefIdx(activeRefs) else -1)
        val r1 = Array.tabulate(4)(q =>
          if (subT(q) != 0 && u1(subT(q))) readRefIdx(activeRefs1) else -1)
        val mv0s = Array.ofDim[(Int, Int)](4, 4)
        val mv1s = Array.ofDim[(Int, Int)](4, 4)
        q = 0
        while (q < 4) { // mvd_l0 pass
          val t = subT(q)
          val ox = (q % 2) * 8
          val oy = (q / 2) * 8
          if (t != 0) {
            if (u0(t)) {
              val gs = geom(t)
              var i = 0
              while (i < gs.length) {
                val (sx, sy, w0, h0) = gs(i)
                val dx = r.se(); val dy = r.se()
                val (px, py) = MotionPred.predict(refGrid, mvxGrid,
                  mvyGrid, bCols, bRows, bx0 + (ox + sx) / 4,
                  by0 + (oy + sy) / 4, w0 / 4, h0 / 4,
                  MotionPred.PartNormal, firstMbCur, r0(q))
                mv0s(q)(i) = (px + dx, py + dy)
                fillMvList(0, mbX * 16 + ox + sx, mbY * 16 + oy + sy,
                  w0, h0, r0(q), px + dx, py + dy)
                i += 1
              }
            } else fillMvList(0, mbX * 16 + ox, mbY * 16 + oy, 8, 8,
              -1, 0, 0)
          }
          q += 1
        }
        q = 0
        while (q < 4) { // mvd_l1 pass
          val t = subT(q)
          val ox = (q % 2) * 8
          val oy = (q / 2) * 8
          if (t != 0) {
            if (u1(t)) {
              val gs = geom(t)
              var i = 0
              while (i < gs.length) {
                val (sx, sy, w0, h0) = gs(i)
                val dx = r.se(); val dy = r.se()
                val (px, py) = MotionPred.predict(refGrid1, mvxGrid1,
                  mvyGrid1, bCols, bRows, bx0 + (ox + sx) / 4,
                  by0 + (oy + sy) / 4, w0 / 4, h0 / 4,
                  MotionPred.PartNormal, firstMbCur, r1(q))
                mv1s(q)(i) = (px + dx, py + dy)
                fillMvList(1, mbX * 16 + ox + sx, mbY * 16 + oy + sy,
                  w0, h0, r1(q), px + dx, py + dy)
                i += 1
              }
            } else fillMvList(1, mbX * 16 + ox, mbY * 16 + oy, 8, 8,
              -1, 0, 0)
          }
          q += 1
        }
        val partsB = Array.newBuilder[Part]
        q = 0
        while (q < 4) {
          val t = subT(q)
          if (t == 0) partsB += directParts(q)
          else {
            val ox = (q % 2) * 8
            val oy = (q / 2) * 8
            val gs = geom(t)
            var i = 0
            while (i < gs.length) {
              val (sx, sy, w0, h0) = gs(i)
              val (x0m, y0m) =
                if (u0(t)) mv0s(q)(i) else (0, 0)
              val (x1m, y1m) =
                if (u1(t)) mv1s(q)(i) else (0, 0)
              partsB += Part(ox + sx, oy + sy, w0, h0,
                r0(q), x0m, y0m, r1(q), x1m, y1m)
              i += 1
            }
          }
          q += 1
        }
        mb.parts = partsB.result()
      } else {
        throw UnsupportedFeature(s"B mb_type $bMbType")
      }

      mb.cbp = cbpInterFromCodeNum(r.ue())
      if (mb.cbp != 0) {
        val delta = r.se()
        require(delta >= -26 && delta <= 25, s"mb_qp_delta $delta")
        prevQp = ((prevQp + delta + 52) % 52)
      }
      mb.qpY = prevQp
      mbQp(mbY * mbW + mbX) = prevQp
      parseLumaAcAndChroma(mb, mbX, mbY, i16 = false)
    }

    /** one B_Skip macroblock: spatial direct motion, zero residual */
    def skipMbB(mbIdx: Int): Unit = {
      val mbX = mbIdx % mbW
      val mbY = mbIdx / mbW
      mbQp(mbIdx) = prevQp
      val mb = new MbResidual
      mb.isInter = true
      mb.qpY = prevQp
      mb.parts = directSpatialParts(mbX, mbY)
      reconstruct(mb, mbX, mbY, mbW, mbH, y, cb, cr, strideY, strideC,
        pps, list0, list1, firstMbCur, curWeights, curWeights1,
        implicitBiCur, curPoc)
    }

    /** one P_Skip macroblock: derived MV, refIdx 0, zero residual */
    def skipMb(mbIdx: Int): Unit = {
      val mbX = mbIdx % mbW
      val mbY = mbIdx / mbW
      val (mvx, mvy) = MotionPred.skipMv(refGrid, mvxGrid, mvyGrid,
        bCols, bRows, mbX * 4, mbY * 4, firstMbCur)
      fillMv(mbX * 16, mbY * 16, 16, 16, 0, mvx, mvy)
      mbQp(mbIdx) = prevQp
      val mb = new MbResidual
      mb.isInter = true
      mb.qpY = prevQp
      mb.parts = Array(Part(0, 0, 16, 16, 0, mvx, mvy))
      reconstruct(mb, mbX, mbY, mbW, mbH, y, cb, cr, strideY, strideC,
        pps, list0, list1, firstMbCur, curWeights, curWeights1,
        implicitBiCur, curPoc)
    }

    def decodeMbLayer(mbIdx: Int): Unit = {
      val mbX = mbIdx % mbW
      val mbY = mbIdx / mbW
      val mb = new MbResidual
      val rawType = r.ue()
      if (isBCur) {
        if (rawType > 48) throw UnsupportedFeature(s"B mb_type $rawType")
        if (rawType >= 23) {
          mb.mbType = rawType - 23
          parseIntraMb(mb, mbX, mbY)
        } else parseBMb(mb, rawType, mbX, mbY)
      } else if (isPCur) {
        if (rawType > 30) throw UnsupportedFeature(s"P mb_type $rawType")
        if (rawType >= 5) {
          mb.mbType = rawType - 5
          parseIntraMb(mb, mbX, mbY)
        } else parseInterMb(mb, rawType, mbX, mbY)
      } else {
        if (rawType > 25) throw UnsupportedFeature(s"mb_type $rawType")
        mb.mbType = rawType
        parseIntraMb(mb, mbX, mbY)
      }
      reconstruct(mb, mbX, mbY, mbW, mbH, y, cb, cr, strideY, strideC,
        pps, list0, list1, firstMbCur, curWeights, curWeights1,
        implicitBiCur, curPoc)
    }

    // --- per slice: header (7.3.3) then slice_data (7.3.4) ---
    val total = mbW * mbH
    var mbIdx = 0
    slices.foreach { case (idr, refIdc, rbsp) =>
      r = new BitReader(rbsp)
      val firstMb = r.ue()
      if (firstMb != mbIdx) throw UnsupportedFeature(
        s"non-consecutive slice coverage (ASO/FMO): first_mb $firstMb at $mbIdx")
      firstMbCur = firstMb
      val sliceType = r.ue()
      val isP = sliceType % 5 == 0
      val isB = sliceType % 5 == 1
      if (!isP && !isB && sliceType % 5 != 2) throw UnsupportedFeature(
        s"slice_type $sliceType (only I/P/B)")
      if ((isP || isB) && idr)
        throw new IllegalArgumentException("inter slice in IDR NAL")
      isPCur = isP
      isBCur = isB
      sawP = sawP || isP || isB
      require(r.ue() == 0, "pps id")
      curFrameNum = r.u(sps.log2MaxFrameNum) // frame_num (= CurrPicNum)
      if (idr) r.ue() // idr_pic_id
      if (sps.picOrderCntType == 0) {
        r.u(sps.log2MaxPocLsb)
        if (pps.bottomFieldPocPresent) r.se() // delta_pic_order_cnt_bottom
      }
      if (isB) directSpatialCur = r.u1() == 1 // direct_spatial_mv_pred_flag
      if (isB) {
        // B ref list sizing: both lists; initialized order is the
        // caller's list0/list1 (POC-distance, 8.2.4.2.3)
        if (r.u1() == 1) { // num_ref_idx_active_override
          activeRefs = r.ue() + 1
          activeRefs1 = r.ue() + 1
        } else {
          activeRefs = pps.numRefIdxL0Default + 1
          activeRefs1 = pps.numRefIdxL1Default + 1
        }
        if (activeRefs > 16 || activeRefs1 > 16)
          throw UnsupportedFeature("reference count > 16")
        // ref_pic_list_modification (7.3.3.1) on both lists, then the
        // pred_weight_table when the PPS signals EXPLICIT bipred
        // weighting (idc 1); idc 2 selects the IMPLICIT POC-derived
        // weights applied at reconstruction (8.4.2.3.1)
        val mods0 = parseModOps()
        val mods1 = parseModOps()
        list0 = applyMod(initList0, activeRefs, mods0)
        list1 = applyMod(initList1, activeRefs1, mods1)
        if (pps.weightedBipredIdc == 1) {
          val (t0, t1) = parseWeightTable(withL1 = true)
          curWeights = t0; curWeights1 = t1
        } else { curWeights = null; curWeights1 = null }
        implicitBiCur = pps.weightedBipredIdc == 2
        require(list0.nonEmpty && list1.nonEmpty,
          "B slice needs both reference lists")
        (list0 ++ list1).foreach(rf =>
          require(rf.mbW == sps.mbWidth && rf.mbH == sps.mbHeight,
            "reference dims mismatch"))
      }
      if (isP) {
        // ref list sizing + modification (7.3.3.1): the INITIALIZED
        // list 0 is descending-PicNum short-term then ascending-
        // LongTermPicNum long-term, i.e. `refs` as the walk passes it;
        // explicit reordering re-derives per slice
        val active =
          if (r.u1() == 1) r.ue() + 1 else pps.numRefIdxL0Default + 1
        if (active > 16)
          throw UnsupportedFeature(s"$active reference pictures")
        // a conformant stream never indexes beyond the decoded DPB;
        // only enforce what's actually addressable (ref_idx parse
        // checks < active, reconstruct checks < refs.length)
        activeRefs = active
        val mods0 = parseModOps()
        list0 = applyMod(initList0, activeRefs, mods0)
        // pred_weight_table (7.3.3.2): explicit weighted prediction
        // for P slices — the fade tool; defaults mean identity
        if (pps.weightedPred) {
          val (t0, _) = parseWeightTable(withL1 = false)
          curWeights = t0
        } else curWeights = null
        curWeights1 = null
        implicitBiCur = false
        require(list0.nonEmpty, "P slice without a reference frame")
        list0.foreach(rf =>
          require(rf.mbW == sps.mbWidth && rf.mbH == sps.mbHeight,
            "reference dims mismatch"))
      }
      if (idr) { r.u1(); r.u1() } // no_output_of_prior / long_term_ref
      else if (refIdc > 0) {
        // dec_ref_pic_marking for a non-IDR reference picture
        // (7.3.3.3): adaptive MMCO ops are PARSED here and surfaced on
        // the output Yuv — marking mutates the DPB, which the GOP walk
        // owns. Conformant streams carry IDENTICAL marking on every
        // slice of a picture, so the first slice's ops stand and any
        // divergent later slice is rejected (the deblock-params
        // pattern below) — keyed on a parsed flag, not op-list
        // emptiness, so an adaptive-but-empty first slice still wins
        val slOps: List[(Int, Int, Int)] =
          if (r.u1() == 1) {
            val ops = List.newBuilder[(Int, Int, Int)]
            var op = r.ue()
            var guard = 0
            while (op != 0) {
              op match {
                case 1 | 2 | 4 | 6 => ops += ((op, r.ue(), 0))
                case 3 => ops += ((op, r.ue(), r.ue()))
                case 5 => ops += ((op, 0, 0))
                case _ => throw new IllegalArgumentException(
                  s"memory_management_control_operation $op")
              }
              guard += 1
              require(guard <= 35, "runaway dec_ref_pic_marking")
              op = r.ue()
            }
            ops.result()
          } else Nil
        if (!mmcoSet) { mmcoOps = slOps; mmcoSet = true }
        else if (slOps != mmcoOps)
          throw UnsupportedFeature("per-slice dec_ref_pic_marking differs")
      }
      val sliceQp = pps.picInitQp + r.se()
      require(sliceQp >= 0 && sliceQp <= 51,
        s"slice QP $sliceQp out of range (corrupt stream)")
      prevQp = sliceQp
      var dis = 0
      var oA = 0
      var oB = 0
      if (pps.deblockingFilterControlPresent) {
        dis = r.ue()
        if (dis != 1) { oA = 2 * r.se(); oB = 2 * r.se() }
      }
      if (!deblockSet) {
        disableDeblock = dis; offA = oA; offB = oB; deblockSet = true
      } else if (dis != disableDeblock || oA != offA || oB != offB)
        throw UnsupportedFeature("per-slice deblock params differ")

      // --- slice_data ---
      if (isP || isB) {
        var go = true
        while (go) {
          val skipRun = r.ue()
          require(mbIdx + skipRun <= total, s"mb_skip_run $skipRun overruns")
          var s = 0
          while (s < skipRun) {
            if (isB) skipMbB(mbIdx) else skipMb(mbIdx)
            mbIdx += 1; s += 1
          }
          if (r.moreRbspData()) {
            require(mbIdx < total, "slice_data beyond last MB")
            decodeMbLayer(mbIdx)
            mbIdx += 1
            go = r.moreRbspData()
          } else go = false
        }
      } else {
        var go = true
        while (go) {
          require(mbIdx < total, "slice_data beyond last MB")
          decodeMbLayer(mbIdx)
          mbIdx += 1
          go = r.moreRbspData()
        }
      }
    }
    require(mbIdx == total, s"picture covered $mbIdx of $total MBs")

    if (disableDeblock != 1) {
      if (sawP)
        Deblock.frame(y, cb, cr, mbW, mbH, mbQp, offA, offB,
          pps.chromaQpOffset,
          Deblock.FrameMeta(intraMb, nzY, pidGrid0, mvxGrid, mvyGrid,
            pidGrid1, mvxGrid1, mvyGrid1))
      else
        Deblock.frame(y, cb, cr, mbW, mbH, mbQp, offA, offB,
          pps.chromaQpOffset)
    }

    Yuv(sps.width, sps.height, mbW, mbH, y, cb, cr,
      motion = Motion(refGrid, mvxGrid, mvyGrid,
        refGrid1, mvxGrid1, mvyGrid1, refPocGrid0, refPocGrid1),
      frameNum = curFrameNum, mmco = mmcoOps)
  }

  /** implicit bi-prediction weights (8.4.2.3.1, weighted_bipred_idc
    * 2): (w0, w1) from POC distances, degrading to the 32/32 average
    * when the refs tie on POC, either is long-term, or the scale
    * factor leaves [-64, 128]. logWD is 5, offsets 0. */
  private def implicitWeights(r0: Yuv, r1: Yuv, curPoc: Int): (Int, Int) = {
    if (curPoc == Motion.NoPoc)
      throw UnsupportedFeature("implicit weighted bipred without POC")
    @inline def clip3(lo: Int, hi: Int, v: Int) =
      if (v < lo) lo else if (v > hi) hi else v
    if (r0.longTermIdx >= 0 || r1.longTermIdx >= 0 || r0.poc == r1.poc)
      (32, 32)
    else {
      val td = clip3(-128, 127, r1.poc - r0.poc)
      val tb = clip3(-128, 127, curPoc - r0.poc)
      val tx = (16384 + math.abs(td / 2)) / td
      val dsf = clip3(-1024, 1023, (tb * tx + 32) >> 6)
      val w1 = dsf >> 2
      if (w1 < -64 || w1 > 128) (32, 32) else (64 - w1, w1)
    }
  }

  /** weighted bi-prediction combine in place (8.4.2.3.2):
    * dst = Clip1(((dst·w0 + src1·w1 + 2^logWD) >> (logWD+1)) +
    * ((o0+o1+1) >> 1)) — shared by explicit (per-list tables) and
    * implicit (POC weights, offsets 0) modes */
  private def combineWeighted(dst: Array[Int], src1: Array[Int],
      stride: Int, x0: Int, y0: Int, w: Int, h: Int, logWD: Int,
      w0: Int, w1: Int, o0: Int, o1: Int): Unit = {
    val rnd = 1 << logWD
    val off = (o0 + o1 + 1) >> 1
    var dy = 0
    while (dy < h) {
      var dx = 0
      while (dx < w) {
        val i = (y0 + dy) * stride + x0 + dx
        dst(i) = clip(((dst(i) * w0 + src1(i) * w1 + rnd) >> (logWD + 1)) + off)
        dx += 1
      }
      dy += 1
    }
  }

  private def reconstruct(mb: MbResidual, mbX: Int, mbY: Int, mbW: Int,
      mbH: Int, y: Array[Int], cb: Array[Int], cr: Array[Int],
      strideY: Int, strideC: Int, pps: Pps, list0: IndexedSeq[Yuv],
      list1: IndexedSeq[Yuv], firstMb: Int,
      weights: WeightTable, weights1: WeightTable,
      implicitBi: Boolean, curPoc: Int): Unit = {
    val x0 = mbX * 16
    val y0 = mbY * 16
    // neighbor MB availability for intra prediction: inside the picture
    // AND in the current slice (6.4.9)
    val mbIdx = mbY * mbW + mbX
    val leftMbAvail = mbX > 0 && mbIdx - 1 >= firstMb
    val topMbAvail = mbY > 0 && mbIdx - mbW >= firstMb
    val topRightMbAvail = mbY > 0 && mbX < mbW - 1 &&
      mbIdx - mbW + 1 >= firstMb
    val topLeftMbAvail = mbX > 0 && mbY > 0 && mbIdx - mbW - 1 >= firstMb

    if (mb.isPcm) {
      var i = 0
      while (i < 256) {
        y((y0 + i / 16) * strideY + x0 + i % 16) = mb.pcmY(i)
        i += 1
      }
      i = 0
      while (i < 64) {
        cb((mbY * 8 + i / 8) * strideC + mbX * 8 + i % 8) = mb.pcmCb(i)
        cr((mbY * 8 + i / 8) * strideC + mbX * 8 + i % 8) = mb.pcmCr(i)
        i += 1
      }
      return
    }

    val qp = mb.qpY
    if (mb.isInter) {
      // --- inter: quarter-pel MC then 4x4 residual add (8.4 + 8.5) ---
      val pred = new Array[Int](256)
      val predCb = new Array[Int](64)
      val predCr = new Array[Int](64)
      // second-list scratch for bi-prediction averaging
      val pred1 = new Array[Int](256)
      val predCb1 = new Array[Int](64)
      val predCr1 = new Array[Int](64)
      var p = 0
      while (p < mb.parts.length) {
        val part = mb.parts(p)
        val px = part.px; val py = part.py
        val w = part.w; val h = part.h

        def mc(list: IndexedSeq[Yuv], refIdx: Int, mvx: Int, mvy: Int,
            oy: Array[Int], ocb: Array[Int], ocr: Array[Int]): Unit = {
          require(refIdx < list.length,
            s"ref_idx $refIdx but only ${list.length} decoded references")
          val ref = list(refIdx)
          Interp.luma(ref.y, strideY, mbH * 16, x0 + px, y0 + py,
            mvx, mvy, w, h, oy, 16, px, py)
          Interp.chroma(ref.cb, strideC, mbH * 8, mbX * 8 + px / 2,
            mbY * 8 + py / 2, mvx, mvy, w / 2, h / 2, ocb, 8,
            px / 2, py / 2)
          Interp.chroma(ref.cr, strideC, mbH * 8, mbX * 8 + px / 2,
            mbY * 8 + py / 2, mvx, mvy, w / 2, h / 2, ocr, 8,
            px / 2, py / 2)
        }

        if (part.ref0 >= 0 && part.ref1 >= 0) {
          // bi-prediction (8.4.2): default rounded average, or the
          // explicit per-list tables (weighted_bipred_idc 1), or the
          // implicit POC-derived weights (idc 2)
          mc(list0, part.ref0, part.mv0x, part.mv0y, pred, predCb, predCr)
          mc(list1, part.ref1, part.mv1x, part.mv1y, pred1, predCb1,
            predCr1)
          if (weights != null && weights1 != null) {
            combineWeighted(pred, pred1, 16, px, py, w, h,
              weights.logWDLuma, weights.wY(part.ref0),
              weights1.wY(part.ref1), weights.oY(part.ref0),
              weights1.oY(part.ref1))
            combineWeighted(predCb, predCb1, 8, px / 2, py / 2,
              w / 2, h / 2, weights.logWDChroma, weights.wCb(part.ref0),
              weights1.wCb(part.ref1), weights.oCb(part.ref0),
              weights1.oCb(part.ref1))
            combineWeighted(predCr, predCr1, 8, px / 2, py / 2,
              w / 2, h / 2, weights.logWDChroma, weights.wCr(part.ref0),
              weights1.wCr(part.ref1), weights.oCr(part.ref0),
              weights1.oCr(part.ref1))
          } else if (implicitBi) {
            val (w0, w1) =
              implicitWeights(list0(part.ref0), list1(part.ref1), curPoc)
            combineWeighted(pred, pred1, 16, px, py, w, h, 5, w0, w1, 0, 0)
            combineWeighted(predCb, predCb1, 8, px / 2, py / 2,
              w / 2, h / 2, 5, w0, w1, 0, 0)
            combineWeighted(predCr, predCr1, 8, px / 2, py / 2,
              w / 2, h / 2, 5, w0, w1, 0, 0)
          } else {
            var dy = 0
            while (dy < h) {
              var dx = 0
              while (dx < w) {
                val i = (py + dy) * 16 + px + dx
                pred(i) = (pred(i) + pred1(i) + 1) >> 1
                dx += 1
              }
              dy += 1
            }
            dy = 0
            while (dy < h / 2) {
              var dx = 0
              while (dx < w / 2) {
                val i = (py / 2 + dy) * 8 + px / 2 + dx
                predCb(i) = (predCb(i) + predCb1(i) + 1) >> 1
                predCr(i) = (predCr(i) + predCr1(i) + 1) >> 1
                dx += 1
              }
              dy += 1
            }
          }
        } else if (part.ref1 >= 0) {
          mc(list1, part.ref1, part.mv1x, part.mv1y, pred, predCb, predCr)
          if (weights1 != null) {
            val refIdx = part.ref1
            applyWeight(pred, 16, px, py, w, h, weights1.logWDLuma,
              weights1.wY(refIdx), weights1.oY(refIdx))
            applyWeight(predCb, 8, px / 2, py / 2, w / 2, h / 2,
              weights1.logWDChroma, weights1.wCb(refIdx),
              weights1.oCb(refIdx))
            applyWeight(predCr, 8, px / 2, py / 2, w / 2, h / 2,
              weights1.logWDChroma, weights1.wCr(refIdx),
              weights1.oCr(refIdx))
          }
        } else {
          mc(list0, part.ref0, part.mv0x, part.mv0y, pred, predCb, predCr)
          if (weights != null) {
            val refIdx = part.ref0
            applyWeight(pred, 16, px, py, w, h, weights.logWDLuma,
              weights.wY(refIdx), weights.oY(refIdx))
            applyWeight(predCb, 8, px / 2, py / 2, w / 2, h / 2,
              weights.logWDChroma, weights.wCb(refIdx), weights.oCb(refIdx))
            applyWeight(predCr, 8, px / 2, py / 2, w / 2, h / 2,
              weights.logWDChroma, weights.wCr(refIdx), weights.oCr(refIdx))
          }
        }
        p += 1
      }
      var k = 0
      while (k < 16) {
        val (bx, by) = ZOrder(k)
        val res =
          if (mb.lumaAc(k) != null) {
            val c = mb.lumaAc(k).clone()
            Transform.dequant4x4(c, qp, skipDc = false)
            Transform.inverse4x4(c)
          } else null
        var i = 0
        while (i < 16) {
          val px = x0 + bx * 4 + i % 4
          val py = y0 + by * 4 + i / 4
          val v = pred((py - y0) * 16 + (px - x0)) +
            (if (res != null) res(i) else 0)
          y(py * strideY + px) = clip(v)
          i += 1
        }
        k += 1
      }
      interChroma(mb, mbX, mbY, cb, cr, strideC, predCb, predCr, pps)
      return
    }

    if (mb.isI16) {
      val pred = new Array[Int](256)
      Predict.intra16x16(mb.i16PredMode, y, strideY, x0, y0,
        leftMbAvail, topMbAvail, pred)
      val dc =
        if (mb.lumaDcLevels != null) Transform.lumaDc(mb.lumaDcLevels, qp)
        else new Array[Int](16)
      var k = 0
      while (k < 16) {
        val (bx, by) = ZOrder(k)
        val d =
          if (mb.lumaAc(k) != null) {
            val c = mb.lumaAc(k).clone()
            Transform.dequant4x4(c, qp, skipDc = true)
            c
          } else new Array[Int](16)
        d(0) = dc(by * 4 + bx)
        val res = Transform.inverse4x4(d)
        var i = 0
        while (i < 16) {
          val px = x0 + bx * 4 + i % 4
          val py = y0 + by * 4 + i / 4
          y(py * strideY + px) = clip(pred((py - y0) * 16 + (px - x0)) + res(i))
          i += 1
        }
        k += 1
      }
    } else {
      // Intra_4x4: reconstruct in z-order so neighbors are ready
      val predBuf = new Array[Int](16)
      var k = 0
      while (k < 16) {
        val (bx, by) = ZOrder(k)
        val bx0 = x0 + bx * 4
        val by0 = y0 + by * 4
        val aL = bx > 0 || leftMbAvail
        val aT = by > 0 || topMbAvail
        val aTR =
          if (by == 0) { if (bx < 3) topMbAvail else topRightMbAvail }
          else bx < 3 && zIndex(bx + 1, by - 1) < k
        val aTL =
          if (bx > 0 && by > 0) true
          else if (bx == 0 && by == 0) topLeftMbAvail
          else if (by == 0) topMbAvail
          else leftMbAvail
        val nbr = new Predict.Nbr4(y, strideY, bx0, by0, aL, aT, aTR, aTL)
        Predict.intra4x4(mb.intra4x4Modes(k), nbr, predBuf)
        val res =
          if (mb.lumaAc(k) != null) {
            val c = mb.lumaAc(k).clone()
            Transform.dequant4x4(c, qp, skipDc = false)
            Transform.inverse4x4(c)
          } else null
        var i = 0
        while (i < 16) {
          val v = predBuf(i) + (if (res != null) res(i) else 0)
          y((by0 + i / 4) * strideY + bx0 + i % 4) = clip(v)
          i += 1
        }
        k += 1
      }
    }

    // intra chroma
    val qpc = Transform.chromaQp(qp, pps.chromaQpOffset)
    val cx0 = mbX * 8
    val cy0 = mbY * 8
    val predC = new Array[Int](64)
    var c = 0
    while (c < 2) {
      val plane = if (c == 0) cb else cr
      Predict.chroma8x8(mb.chromaPredMode, plane, strideC, cx0, cy0,
        leftMbAvail, topMbAvail, predC)
      addChromaResidual(mb, c, plane, strideC, cx0, cy0, predC, 8, qpc)
      c += 1
    }
  }

  /** inter chroma: MC pred buffers + residual add */
  private def interChroma(mb: MbResidual, mbX: Int, mbY: Int,
      cb: Array[Int], cr: Array[Int], strideC: Int,
      predCb: Array[Int], predCr: Array[Int], pps: Pps): Unit = {
    val qpc = Transform.chromaQp(mb.qpY, pps.chromaQpOffset)
    val cx0 = mbX * 8
    val cy0 = mbY * 8
    addChromaResidual(mb, 0, cb, strideC, cx0, cy0, predCb, 8, qpc)
    addChromaResidual(mb, 1, cr, strideC, cx0, cy0, predCr, 8, qpc)
  }

  /** chroma residual add shared by intra and inter reconstruction:
    * pred is an 8x8 raster buffer at predStride. */
  private def addChromaResidual(mb: MbResidual, c: Int, plane: Array[Int],
      strideC: Int, cx0: Int, cy0: Int, pred: Array[Int],
      predStride: Int, qpc: Int): Unit = {
    val dc =
      if (mb.chromaDc(c) != null) Transform.chromaDc(mb.chromaDc(c), qpc)
      else new Array[Int](4)
    var b = 0
    while (b < 4) {
      val d =
        if (mb.chromaAc(c)(b) != null) {
          val cc = mb.chromaAc(c)(b).clone()
          Transform.dequant4x4(cc, qpc, skipDc = true)
          cc
        } else new Array[Int](16)
      d(0) = dc(b)
      val res = Transform.inverse4x4(d)
      val bx0 = cx0 + (b % 2) * 4
      val by0 = cy0 + (b / 2) * 4
      var i = 0
      while (i < 16) {
        val px = bx0 + i % 4
        val py = by0 + i / 4
        plane(py * strideC + px) =
          clip(pred((py - cy0) * predStride + (px - cx0)) + res(i))
        i += 1
      }
      b += 1
    }
  }

  /** BT.601 full-range YUV→RGB with nearest-neighbor 4:2:0 chroma
    * upsampling — the library's fixed integer convention (tested in
    * H264Spec; the reference delegates this to decord/ffmpeg). */
  def toRgb(f: Yuv): Array[Byte] = {
    val out = new Array[Byte](f.width * f.height * 3)
    var py = 0
    while (py < f.height) {
      var px = 0
      while (px < f.width) {
        val yv = f.luma(px, py)
        val u = f.chromaB(px, py) - 128
        val v = f.chromaR(px, py) - 128
        val o = (py * f.width + px) * 3
        out(o) = clip(yv + ((91881 * v + 32768) >> 16)).toByte
        out(o + 1) = clip(yv - ((22554 * u + 46802 * v + 32768) >> 16)).toByte
        out(o + 2) = clip(yv + ((116130 * u + 32768) >> 16)).toByte
        px += 1
      }
      py += 1
    }
    out
  }
}
