package graft.multimodal.h264

import H264Fixtures._

/** Closed-form plane sums of the [[H264Fixtures]] videos: the integer
  * arithmetic the DuckDB oracles replay, kept beside the specs that pin
  * the decoder's output to it. */
object H264FixtureSums {

  /** closed-form plane sums for [[videoGop]] frames: the g==0 IDR is
    * the kind-1 arithmetic; P frames add the uniform luma delta once
    * (g>=1) and otherwise copy. */
  def expectedSumsGop(d: Long, f: Int): (Long, Long, Long) = {
    val g = f % 4
    val (ys, cbs, crs) = i16Sums(d, f - g)
    if (g == 0) (ys, cbs, crs)
    else {
      val qp = qpFor(d)
      val v = Array(10, 11, 13, 14, 16, 18)(qp % 6)
      val r = (((deltaLevel(d) * v) << (qp / 6)) + 32) >> 6
      val yv = math.max(0, math.min(255, (ys / 256).toInt + r))
      (256L * yv, cbs, crs)
    }
  }

  /** closed-form plane sums for [[videoMultiRef]] frames */
  def expectedSumsMultiRef(d: Long, f: Int): (Long, Long, Long) = {
    val qp = qpFor(d)
    val v = Array(10, 11, 13, 14, 16, 18)(qp % 6)
    val fi = f - f % 4
    def clip(x: Int) = math.max(0, math.min(255, x))
    val la = 1 + ((d + fi) % 5).toInt
    val dc =
      if (qp >= 36) (la * v) << (qp / 6 - 6)
      else (la * v + (1 << (5 - qp / 6))) >> (6 - qp / 6)
    val ia = clip(128 + ((dc + 32) >> 6))
    val yv = (f % 4) match {
      case 0 | 2 => ia
      case _ => multiRefPcmVal(d, fi)
    }
    (256L * yv, 64L * 128L, 64L * 128L)
  }

  /** closed-form plane sums for [[videoB]] frames — `f` is the
    * DISPLAY index (triad order IDR, B, P) */
  def expectedSumsB(d: Long, f: Int): (Long, Long, Long) = {
    val qp = qpFor(d)
    val v = Array(10, 11, 13, 14, 16, 18)(qp % 6)
    def clip(x: Int) = math.max(0, math.min(255, x))
    val t = f / 3
    val la = 1 + ((d + 3 * t) % 5).toInt
    val dc =
      if (qp >= 36) (la * v) << (qp / 6 - 6)
      else (la * v + (1 << (5 - qp / 6))) >> (6 - qp / 6)
    val ia = clip(128 + ((dc + 32) >> 6))
    val vb = multiRefPcmVal(d, 3 * t)
    val yv = (f % 3) match {
      case 0 => ia
      case 2 => vb // display position 2 is the P picture
      case _ => (t % 4) match { // display position 1 is the B
        case 0 => ia
        case 1 => vb
        case _ => (ia + vb + 1) >> 1
      }
    }
    (256L * yv, 64L * 128L, 64L * 128L)
  }

  /** closed-form plane sums for [[videoWeighted]] frames */
  def expectedSumsWeighted(d: Long, f: Int): (Long, Long, Long) = {
    val qp = qpFor(d)
    val v = Array(10, 11, 13, 14, 16, 18)(qp % 6)
    def clip(x: Int) = math.max(0, math.min(255, x))
    val la = 1 + ((d + (f - f % 2)) % 5).toInt
    val dc =
      if (qp >= 36) (la * v) << (qp / 6 - 6)
      else (la * v + (1 << (5 - qp / 6))) >> (6 - qp / 6)
    val ia = clip(128 + ((dc + 32) >> 6))
    if (f % 2 == 0) (256L * ia, 64L * 128L, 64L * 128L)
    else {
      val (wy, oy, wcb, ocb, wcr, ocr) = weightedParams(d)
      val yv = clip(((ia * wy + 16) >> 5) + oy)
      val cbv = clip(((128 * wcb + 32) >> 6) + ocb)
      val crv = clip(((128 * wcr + 32) >> 6) + ocr)
      (256L * yv, 64L * cbv, 64L * crv)
    }
  }

  /** closed-form plane sums for [[videoSlices]] frames */
  def expectedSumsSlices(d: Long, f: Int): (Long, Long, Long) = {
    val qp = qpFor(d)
    val v = Array(10, 11, 13, 14, 16, 18)(qp % 6)
    def clip(x: Int) = math.max(0, math.min(255, x))
    def i16Val(l: Int): Int = {
      val dc =
        if (qp >= 36) (l * v) << (qp / 6 - 6)
        else (l * v + (1 << (5 - qp / 6))) >> (6 - qp / 6)
      clip(128 + ((dc + 32) >> 6))
    }
    val fIdr = f - f % 2
    val la = 1 + ((d + fIdr) % 5).toInt
    val lb = 1 + ((d + 2 * fIdr) % 5).toInt
    val r = (((deltaLevel(d) * v) << (qp / 6)) + 32) >> 6
    val v0 = i16Val(la)
    val v1 = if (f % 2 == 0) i16Val(lb) else clip(i16Val(lb) + r)
    (256L * (v0 + v1), 128L * 128L, 128L * 128L)
  }

  /** closed-form plane sums for [[videoWeightedB]] — `f` is the
    * DISPLAY index (triad order IDR, B, P) */
  def expectedSumsWeightedB(d: Long, f: Int): (Long, Long, Long) = {
    val qp = qpFor(d)
    val v = Array(10, 11, 13, 14, 16, 18)(qp % 6)
    def clip(x: Int) = math.max(0, math.min(255, x))
    val t = f / 3
    val la = 1 + ((d + 3 * t) % 5).toInt
    val dc =
      if (qp >= 36) (la * v) << (qp / 6 - 6)
      else (la * v + (1 << (5 - qp / 6))) >> (6 - qp / 6)
    val ia = clip(128 + ((dc + 32) >> 6))
    val vb = multiRefPcmVal(d, 3 * t)
    val p = weightedBParams(d)
    val (w0y, o0y, w1y, o1y) = (p._1, p._2, p._3, p._4)
    val (w0cb, o0cb, w0cr, o0cr) = (p._5, p._6, p._7, p._8)
    val (w1cb, o1cb, w1cr, o1cr) = (p._9, p._10, p._11, p._12)
    (f % 3) match {
      case 0 => (256L * ia, 64L * 128L, 64L * 128L)
      case 2 => (256L * vb, 64L * 128L, 64L * 128L)
      case _ => (t % 3) match {
        case 0 =>
          val yv = clip(((ia * w0y + vb * w1y + 32) >> 6) +
            ((o0y + o1y + 1) >> 1))
          val cbv = clip(((128 * w0cb + 128 * w1cb + 64) >> 7) +
            ((o0cb + o1cb + 1) >> 1))
          val crv = clip(((128 * w0cr + 128 * w1cr + 64) >> 7) +
            ((o0cr + o1cr + 1) >> 1))
          (256L * yv, 64L * cbv, 64L * crv)
        case 1 =>
          val yv = clip(((ia * w0y + 16) >> 5) + o0y)
          val cbv = clip(((128 * w0cb + 32) >> 6) + o0cb)
          val crv = clip(((128 * w0cr + 32) >> 6) + o0cr)
          (256L * yv, 64L * cbv, 64L * crv)
        case _ =>
          val yv = clip(((vb * w1y + 16) >> 5) + o1y)
          val cbv = clip(((128 * w1cb + 32) >> 6) + o1cb)
          val crv = clip(((128 * w1cr + 32) >> 6) + o1cr)
          (256L * yv, 64L * cbv, 64L * crv)
      }
    }
  }

  /** closed-form plane sums for [[videoImplicitB]] — `f` is the
    * DISPLAY index (triad order IDR, B, P) */
  def expectedSumsImplicitB(d: Long, f: Int): (Long, Long, Long) = {
    val qp = qpFor(d)
    val v = Array(10, 11, 13, 14, 16, 18)(qp % 6)
    def clip(x: Int) = math.max(0, math.min(255, x))
    val t = f / 3
    val la = 1 + ((d + 3 * t) % 5).toInt
    val dc =
      if (qp >= 36) (la * v) << (qp / 6 - 6)
      else (la * v + (1 << (5 - qp / 6))) >> (6 - qp / 6)
    val ia = clip(128 + ((dc + 32) >> 6))
    val vb = multiRefPcmVal(d, 3 * t)
    val yv = (f % 3) match {
      case 0 => ia
      case 2 => vb
      case _ => clip((ia * 43 + vb * 21 + 32) >> 6) // w0 43, w1 21
    }
    (256L * yv, 64L * 128L, 64L * 128L)
  }

  /** closed-form plane sums for [[videoModList]] frames */
  def expectedSumsModList(d: Long, f: Int): (Long, Long, Long) = {
    val qp = qpFor(d)
    val v = Array(10, 11, 13, 14, 16, 18)(qp % 6)
    def clip(x: Int) = math.max(0, math.min(255, x))
    val fi = f - f % 4
    val la = 1 + ((d + fi) % 5).toInt
    val dc =
      if (qp >= 36) (la * v) << (qp / 6 - 6)
      else (la * v + (1 << (5 - qp / 6))) >> (6 - qp / 6)
    val ia = clip(128 + ((dc + 32) >> 6))
    val vb = multiRefPcmVal(d, fi)
    val yv = (f % 4) match {
      case 0 | 2 => ia
      case _ => vb
    }
    (256L * yv, 64L * 128L, 64L * 128L)
  }

  /** closed-form plane sums for [[videoMmco]] frames (variants 0/1
    * decode identically — MMCO 1/3 are DPB protocol, not a pixel
    * transform; variant 2's reset re-targets g3/g4 onto the rebased
    * P2) */
  def expectedSumsMmco(d: Long, f: Int): (Long, Long, Long) = {
    val qp = qpFor(d)
    val v = Array(10, 11, 13, 14, 16, 18)(qp % 6)
    def clip(x: Int) = math.max(0, math.min(255, x))
    val fi = f - f % 5
    val la = 1 + ((d + fi) % 5).toInt
    val dc =
      if (qp >= 36) (la * v) << (qp / 6 - 6)
      else (la * v + (1 << (5 - qp / 6))) >> (6 - qp / 6)
    val ia = clip(128 + ((dc + 32) >> 6))
    val yv = (f % 5) match {
      case 0 => ia
      case 1 => multiRefPcmVal(d, fi + 1)
      case 2 => multiRefPcmVal(d, fi + 2)
      case _ => if (d % 3 == 2) multiRefPcmVal(d, fi + 2) else ia
    }
    (256L * yv, 64L * 128L, 64L * 128L)
  }

  /** kind-1 (I_16x16 uniform) closed-form plane sums, shared by
    * [[expectedSums]] and the GOP oracle. */
  private def i16Sums(d: Long, f: Int): (Long, Long, Long) = {
    val qp = qpFor(d)
    def clip(v: Int) = math.max(0, math.min(255, v))
    val v = Array(10, 11, 13, 14, 16, 18)(qp % 6)
    val ly = 1 + ((d + f) % 5).toInt
    val dc =
      if (qp >= 36) (ly * v) << (qp / 6 - 6)
      else (ly * v + (1 << (5 - qp / 6))) >> (6 - qp / 6)
    val yv = clip(128 + ((dc + 32) >> 6))
    val qpc = Transform.chromaQp(qp, 0)
    val vc = Array(10, 11, 13, 14, 16, 18)(qpc % 6)
    def cval(l: Int) = {
      val dcc = ((l * vc) << (qpc / 6)) >> 5
      clip(128 + ((dcc + 32) >> 6))
    }
    (256L * yv, 64L * cval(((d + f) % 3).toInt),
      64L * cval(((d + 2 * f) % 3).toInt))
  }

  /** closed-form expected plane sums (what the DuckDB oracle computes);
    * used by H264Spec to pin the decoder to the analytic truth. */
  def expectedSums(d: Long, f: Int): (Long, Long, Long) = {
    val qp = qpFor(d)
    def clip(v: Int) = math.max(0, math.min(255, v))
    val v = Array(10, 11, 13, 14, 16, 18)(qp % 6)
    (f % 3) match {
      case 0 =>
        var ys = 0L; var cbs = 0L; var crs = 0L
        (0 until 256).foreach(i => ys += (d * 31 + f * 53 + i * 7) % 251)
        (0 until 64).foreach(i => cbs += (d * 29 + f * 47 + i * 11) % 251)
        (0 until 64).foreach(i => crs += (d * 23 + f * 41 + i * 13) % 251)
        (ys, cbs, crs)
      case 1 => i16Sums(d, f)
      case _ =>
        val l2 = 1 + ((d * 3 + f) % 5).toInt
        val d0 = (l2 * v) << (qp / 6)
        val v0 = clip(128 + ((d0 + 32) >> 6))
        (256L * v0, 64L * 128L, 64L * 128L)
    }
  }
}
