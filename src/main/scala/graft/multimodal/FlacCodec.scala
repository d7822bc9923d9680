package graft.multimodal

/** Pure-JVM FLAC codec — the lossless compressed-audio path real
  * corpora carry next to WAV (the reference decodes it via ffmpeg;
  * here it is native like [[WavCodec]]). Decoder: STREAMINFO +
  * metadata walk, frame headers (UTF-8 frame numbers, CRC-8
  * verified), subframes CONSTANT / VERBATIM / FIXED(0-4) / LPC with
  * wasted bits, Rice/Rice2 partitioned residuals including escaped
  * raw partitions, and all four channel assignments (independent,
  * left/side, right/side, mid/side). Encoder (fixture-grade):
  * FIXED-order-2 subframes with a best-of Rice parameter, any channel
  * mode, CRC-8/CRC-16 written for real. FLAC is LOSSLESS, so
  * decode∘encode is the identity — every oracle over decoded samples
  * is exact.
  *
  * Everything here is structural (prediction orders, Rice coding,
  * zigzag, the two public CRC polynomials 0x07/0x8005) — unlike
  * mp3/aac, whose Huffman VALUE tables are unreconstructable offline
  * and stay at the typed-unsupported seam.
  */
object FlacCodec {

  /** interleaved samples (channel-major per frame), like
    * [[WavCodec.Wav]] but at arbitrary bit depth */
  final case class Flac(
      sampleRate: Int,
      channels: Int,
      bitsPerSample: Int,
      samples: Array[Int]) {
    def frames: Int = samples.length / channels
    def durationSec: Double = frames.toDouble / sampleRate
  }

  // ---------------- bit I/O (MSB first) ----------------

  private final class BR(data: Array[Byte]) {
    var bytePos = 0
    private var bitPos = 0
    def aligned: Boolean = bitPos == 0
    def atEnd: Boolean = bytePos >= data.length && bitPos == 0
    def u1(): Int = {
      require(bytePos < data.length, "FLAC bitstream truncated")
      val b = (data(bytePos) >> (7 - bitPos)) & 1
      bitPos += 1
      if (bitPos == 8) { bitPos = 0; bytePos += 1 }
      b
    }
    def u(n: Int): Int = {
      // chunked: consume up to a byte's remaining bits per step
      var v = 0
      var left = n
      while (left > 0) {
        require(bytePos < data.length, "FLAC bitstream truncated")
        val avail = 8 - bitPos
        val take = if (left < avail) left else avail
        val bits = ((data(bytePos) & 0xff) >> (avail - take)) &
          ((1 << take) - 1)
        v = (v << take) | bits
        bitPos += take
        if (bitPos == 8) { bitPos = 0; bytePos += 1 }
        left -= take
      }
      v
    }
    def uLong(n: Int): Long =
      if (n <= 32) u(n).toLong & ((1L << n) - 1)
      else ((u(n - 32).toLong & 0xffffffffL) << 32) |
        (u(32).toLong & 0xffffffffL)
    /** signed two's-complement n-bit */
    def s(n: Int): Int = {
      val v = u(n)
      if (n > 0 && (v & (1 << (n - 1))) != 0) v - (1 << n) else v
    }
    def unary(): Int = {
      // byte-at-a-time: count leading zeros of the remaining bits
      var q = 0
      while (true) {
        require(bytePos < data.length, "FLAC bitstream truncated")
        require(q <= (1 << 20), "unary run too long (corrupt stream)")
        val rem = ((data(bytePos) & 0xff) << bitPos) & 0xff
        if (rem == 0) {
          q += 8 - bitPos
          bitPos = 0
          bytePos += 1
        } else {
          val lead = Integer.numberOfLeadingZeros(rem) - 24
          q += lead
          bitPos += lead + 1
          if (bitPos >= 8) { bitPos -= 8; bytePos += 1 }
          return q
        }
      }
      q
    }
    def alignToByte(): Unit = while (bitPos != 0) { u1(); () }
    def byte(): Int = { require(aligned, "unaligned byte read"); u(8) }
  }

  private final class BW {
    private val out = new java.io.ByteArrayOutputStream()
    private var cur = 0
    private var n = 0
    def u1(b: Int): Unit = {
      cur = (cur << 1) | (b & 1)
      n += 1
      if (n == 8) { out.write(cur); cur = 0; n = 0 }
    }
    def u(bits: Int, v: Int): Unit = {
      // chunked: fill the current byte's remaining space per step
      var left = bits
      while (left > 0) {
        val space = 8 - n
        val take = if (left < space) left else space
        val chunk = (v >> (left - take)) & ((1 << take) - 1)
        cur = (cur << take) | chunk
        n += take
        left -= take
        if (n == 8) { out.write(cur); cur = 0; n = 0 }
      }
    }
    /** `bits` zero bits (Rice quotients) */
    def zeros(bits: Int): Unit = {
      var left = bits
      while (left >= 8) { u(8, 0); left -= 8 }
      if (left > 0) u(left, 0)
    }
    def uLong(bits: Int, v: Long): Unit = {
      var i = bits - 1
      while (i >= 0) { u1(((v >> i) & 1L).toInt); i -= 1 }
    }
    def s(bits: Int, v: Int): Unit = u(bits, v & ((1 << bits) - 1))
    def alignZero(): Unit = while (n != 0) u1(0)
    def bytes: Array[Byte] = { require(n == 0); out.toByteArray }
  }

  // ---------------- CRCs (spec polynomials) ----------------

  private[multimodal] def crc8(b: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= b(i) & 0xff
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xff
        else (crc << 1) & 0xff
        k += 1
      }
      i += 1
    }
    crc
  }

  private[multimodal] def crc16(b: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= (b(i) & 0xff) << 8
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xffff
        else (crc << 1) & 0xffff
        k += 1
      }
      i += 1
    }
    crc
  }

  // block-size-code 1..15 lookup (frame header, spec structural)
  private def blockSizeFor(code: Int, r: BR): Int = code match {
    case 1 => 192
    case c if c >= 2 && c <= 5 => 576 << (c - 2)
    case 6 => r.u(8) + 1
    case 7 => r.u(16) + 1
    case c if c >= 8 && c <= 15 => 256 << (c - 8)
    case _ => throw new IllegalArgumentException(s"block size code $code")
  }

  private val FixedCoefs: Array[Array[Int]] = Array(
    Array(), Array(1), Array(2, -1), Array(3, -3, 1), Array(4, -6, 4, -1))

  // ---------------- decode ----------------

  def decode(bytes: Array[Byte]): Flac = {
    require(bytes.length >= 42 &&
      new String(bytes, 0, 4, "US-ASCII") == "fLaC", "not a FLAC stream")
    val r = new BR(bytes)
    r.u(32) // magic
    // metadata blocks
    var last = false
    var sampleRate = 0
    var channels = 0
    var bps = 0
    var totalSamples = 0L
    var sawInfo = false
    while (!last) {
      last = r.u1() == 1
      val typ = r.u(7)
      val len = r.u(24)
      if (typ == 0) { // STREAMINFO
        require(len == 34, s"STREAMINFO length $len")
        r.u(16); r.u(16) // min/max block size
        r.u(24); r.u(24) // min/max frame size
        sampleRate = r.u(20)
        channels = r.u(3) + 1
        bps = r.u(5) + 1
        totalSamples = r.uLong(36)
        r.uLong(64); r.uLong(64) // md5
        sawInfo = true
      } else {
        require(typ != 127, "invalid metadata block type")
        var i = 0
        while (i < len) { r.byte(); i += 1 }
      }
    }
    require(sawInfo, "FLAC without STREAMINFO")
    require(sampleRate > 0 && channels >= 1 && channels <= 8, "bad streaminfo")
    require(bps >= 4 && bps <= 32, s"bits per sample $bps")

    val outBuf = scala.collection.mutable.ArrayBuilder.make[Int]
    var decoded = 0L
    while (!r.atEnd && (totalSamples == 0 || decoded < totalSamples)) {
      val frameStart = r.bytePos
      // ---- frame header ----
      require(r.u(14) == 0x3ffe, "bad frame sync")
      require(r.u1() == 0, "reserved bit")
      r.u1() // blocking strategy
      val bsCode = r.u(4)
      val srCode = r.u(4)
      val chanCode = r.u(4)
      val ssCode = r.u(3)
      require(r.u1() == 0, "reserved bit")
      // coded frame/sample number: UTF-8-style, up to 7 bytes
      val first = r.byte()
      var extra = 0
      var f = first
      while ((f & 0x80) != 0) { extra += 1; f <<= 1 }
      require(extra != 1 && extra <= 6, "bad coded number")
      var i = 0
      while (i < extra) {
        require((r.byte() & 0xc0) == 0x80, "bad coded number continuation")
        i += 1
      }
      val blockSize = blockSizeFor(bsCode, r)
      srCode match {
        case 0 => ()
        case c if c >= 1 && c <= 11 => () // table rate; streaminfo governs
        case 12 => r.u(8)
        case 13 | 14 => r.u(16)
        case _ => throw new IllegalArgumentException("sample rate code 15")
      }
      val frameBps = ssCode match {
        case 0 => bps
        case 1 => 8
        case 2 => 12
        case 4 => 16
        case 5 => 20
        case 6 => 24
        case 7 => 32
        case _ => throw new IllegalArgumentException(s"sample size code $ssCode")
      }
      val headerEnd = r.bytePos
      require(r.aligned, "frame header must be whole bytes before crc")
      val wantCrc8 = crc8(bytes, frameStart, headerEnd)
      require(r.byte() == wantCrc8, "frame header CRC-8 mismatch")

      val nCh = if (chanCode <= 7) chanCode + 1 else 2
      require(nCh == channels, s"frame channels $nCh != $channels")

      // ---- subframes ----
      val chans = Array.ofDim[Array[Int]](nCh)
      var ch = 0
      while (ch < nCh) {
        // side channels carry one extra bit of range
        val chBps = frameBps + (chanCode match {
          case 8 => if (ch == 1) 1 else 0 // left/side
          case 9 => if (ch == 0) 1 else 0 // right/side (side first)
          case 10 => if (ch == 1) 1 else 0 // mid/side
          case _ => 0
        })
        chans(ch) = subframe(r, blockSize, chBps)
        ch += 1
      }
      r.alignToByte()
      val crcEnd = r.bytePos
      val wantCrc16 = crc16(bytes, frameStart, crcEnd)
      require(r.u(16) == wantCrc16, "frame CRC-16 mismatch")

      // ---- stereo decorrelation ----
      val (l, rr) = chanCode match {
        case 8 => // left/side: right = left - side
          val lft = chans(0)
          (lft, Array.tabulate(blockSize)(i => lft(i) - chans(1)(i)))
        case 9 => // right/side: left = right + side (side is ch 0)
          val rgt = chans(1)
          (Array.tabulate(blockSize)(i => rgt(i) + chans(0)(i)), rgt)
        case 10 => // mid/side
          val m = chans(0)
          val sd = chans(1)
          val lft = new Array[Int](blockSize)
          val rgt = new Array[Int](blockSize)
          var i = 0
          while (i < blockSize) {
            val mid2 = (m(i) << 1) | (sd(i) & 1)
            lft(i) = (mid2 + sd(i)) >> 1
            rgt(i) = (mid2 - sd(i)) >> 1
            i += 1
          }
          (lft, rgt)
        case _ => (null, null)
      }
      var i2 = 0
      while (i2 < blockSize) {
        if (chanCode >= 8) { outBuf += l(i2); outBuf += rr(i2) }
        else {
          var c = 0
          while (c < nCh) { outBuf += chans(c)(i2); c += 1 }
        }
        i2 += 1
      }
      decoded += blockSize
    }
    val all = outBuf.result()
    require(totalSamples == 0 || decoded == totalSamples,
      s"decoded $decoded of $totalSamples samples")
    Flac(sampleRate, channels, bps, all)
  }

  /** one subframe (header + payload) of `n` samples at `bps` bits */
  private def subframe(r: BR, n: Int, bps: Int): Array[Int] = {
    require(r.u1() == 0, "subframe padding bit")
    val typ = r.u(6)
    val wasted =
      if (r.u1() == 1) r.unary() + 1
      else 0
    val eBps = bps - wasted
    require(eBps >= 1, "wasted bits exceed sample size")
    val out =
      if (typ == 0) { // CONSTANT
        val v = r.s(eBps)
        Array.fill(n)(v)
      } else if (typ == 1) { // VERBATIM
        Array.fill(n)(r.s(eBps))
      } else if (typ >= 8 && typ <= 12) { // FIXED order 0-4
        val order = typ - 8
        val x = new Array[Int](n)
        var i = 0
        while (i < order) { x(i) = r.s(eBps); i += 1 }
        val res = residuals(r, n, order)
        val cs = FixedCoefs(order)
        while (i < n) {
          var pred = 0L
          var j = 0
          while (j < order) { pred += cs(j).toLong * x(i - 1 - j); j += 1 }
          x(i) = (pred + res(i - order)).toInt
          i += 1
        }
        x
      } else if (typ >= 32) { // LPC order 1-32
        val order = (typ & 31) + 1
        val x = new Array[Int](n)
        var i = 0
        while (i < order) { x(i) = r.s(eBps); i += 1 }
        val precision = r.u(4) + 1
        require(precision <= 15, "LPC precision 16 is reserved")
        val shift = r.s(5)
        require(shift >= 0, "negative LPC shift")
        val coefs = Array.fill(order)(r.s(precision))
        val res = residuals(r, n, order)
        while (i < n) {
          var pred = 0L
          var j = 0
          while (j < order) { pred += coefs(j).toLong * x(i - 1 - j); j += 1 }
          x(i) = ((pred >> shift) + res(i - order)).toInt
          i += 1
        }
        x
      } else throw new IllegalArgumentException(s"subframe type $typ")
    if (wasted > 0) out.map(_ << wasted) else out
  }

  /** Rice-coded residual section: n - order values */
  private def residuals(r: BR, n: Int, order: Int): Array[Int] = {
    val method = r.u(2)
    require(method <= 1, s"residual coding method $method")
    val pBits = if (method == 0) 4 else 5
    val escape = (1 << pBits) - 1
    val partOrder = r.u(4)
    val parts = 1 << partOrder
    require(n % parts == 0, "partition count does not divide block size")
    require(n / parts > order || partOrder == 0,
      "first partition underflow")
    val out = new Array[Int](n - order)
    var w = 0
    var p = 0
    while (p < parts) {
      val cnt = (n >> partOrder) - (if (p == 0) order else 0)
      val param = r.u(pBits)
      if (param == escape) {
        val raw = r.u(5)
        var i = 0
        while (i < cnt) { out(w) = if (raw == 0) 0 else r.s(raw); w += 1; i += 1 }
      } else {
        var i = 0
        while (i < cnt) {
          val q = r.unary()
          val rem = if (param == 0) 0 else r.u(param)
          val v = (q << param) | rem
          out(w) = (v >>> 1) ^ -(v & 1) // zigzag
          w += 1
          i += 1
        }
      }
      p += 1
    }
    out
  }

  // ---------------- encode (fixture-grade) ----------------

  /** Stereo/channel layout for [[encode]]: how interleaved input maps
    * to coded subframes. Decorrelated modes require 2 channels. */
  sealed trait ChannelMode
  case object Independent extends ChannelMode
  case object LeftSide extends ChannelMode
  case object RightSide extends ChannelMode
  case object MidSide extends ChannelMode

  /** encode with FIXED-order-2 subframes (order 0/1 for short blocks),
    * single-partition Rice residuals with a best-of-15 parameter —
    * conformant, decoded by any FLAC decoder, and exactly lossless. */
  def encode(f: Flac, blockSize: Int = 4096,
      mode: ChannelMode = Independent): Array[Byte] = {
    require(f.sampleRate > 0 && f.sampleRate < (1 << 20))
    require(f.channels >= 1 && f.channels <= 8)
    require(f.bitsPerSample >= 4 && f.bitsPerSample <= 24)
    require(mode == Independent || f.channels == 2,
      "decorrelated modes need exactly 2 channels")
    require(blockSize >= 16 && blockSize <= 65535)
    val frames = f.frames
    require(frames * f.channels == f.samples.length, "ragged channels")
    f.samples.foreach(v => require(
      v >= -(1 << (f.bitsPerSample - 1)) &&
        v < (1 << (f.bitsPerSample - 1)), "sample out of range"))

    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("US-ASCII"))
    val info = new BW
    info.u1(1); info.u(7, 0); info.u(24, 34) // last block, STREAMINFO
    info.u(16, math.min(blockSize, frames).max(16))
    info.u(16, blockSize)
    info.u(24, 0); info.u(24, 0)
    info.u(20, f.sampleRate)
    info.u(3, f.channels - 1)
    info.u(5, f.bitsPerSample - 1)
    info.uLong(36, frames.toLong)
    info.uLong(64, 0L); info.uLong(64, 0L) // md5 unset (legal)
    val infoB = info.bytes
    out.write(infoB, 0, infoB.length)

    val chanCode = mode match {
      case Independent => f.channels - 1
      case LeftSide => 8
      case RightSide => 9
      case MidSide => 10
    }
    var frameIdx = 0
    var s0 = 0
    while (s0 < frames) {
      val n = math.min(blockSize, frames - s0)
      val w = new BW
      w.u(14, 0x3ffe); w.u1(0); w.u1(0) // sync, reserved, fixed-size
      w.u(4, 7) // block size: explicit u16 - 1
      w.u(4, 0) // sample rate: streaminfo
      w.u(4, chanCode)
      w.u(3, f.bitsPerSample match {
        case 8 => 1
        case 12 => 2
        case 16 => 4
        case 20 => 5
        case 24 => 6
        case _ => 0
      })
      w.u1(0)
      // UTF-8 coded frame number
      val fn = frameIdx
      if (fn < 0x80) w.u(8, fn)
      else if (fn < 0x800) {
        w.u(8, 0xc0 | (fn >> 6)); w.u(8, 0x80 | (fn & 0x3f))
      } else {
        w.u(8, 0xe0 | (fn >> 12)); w.u(8, 0x80 | ((fn >> 6) & 0x3f))
        w.u(8, 0x80 | (fn & 0x3f))
      }
      w.u(16, n - 1)
      val headerBytes = w.bytes // aligned: all fields above are whole bytes
      val hw = new BW
      headerBytes.foreach(b => hw.u(8, b & 0xff))
      hw.u(8, crc8(headerBytes, 0, headerBytes.length))

      // channel planes for this block
      def plane(c: Int): Array[Int] =
        Array.tabulate(n)(i => f.samples((s0 + i) * f.channels + c))
      val coded: Seq[(Array[Int], Int)] = mode match {
        case Independent =>
          (0 until f.channels).map(c => (plane(c), f.bitsPerSample))
        case LeftSide =>
          val l = plane(0); val rr = plane(1)
          Seq((l, f.bitsPerSample),
            (Array.tabulate(n)(i => l(i) - rr(i)), f.bitsPerSample + 1))
        case RightSide =>
          val l = plane(0); val rr = plane(1)
          Seq((Array.tabulate(n)(i => l(i) - rr(i)), f.bitsPerSample + 1),
            (rr, f.bitsPerSample))
        case MidSide =>
          val l = plane(0); val rr = plane(1)
          Seq((Array.tabulate(n)(i => (l(i) + rr(i)) >> 1), f.bitsPerSample),
            (Array.tabulate(n)(i => l(i) - rr(i)), f.bitsPerSample + 1))
      }
      coded.foreach { case (x, bps) => writeSubframe(hw, x, bps) }
      hw.alignZero()
      val body = hw.bytes
      val fw = new BW
      body.foreach(b => fw.u(8, b & 0xff))
      fw.u(16, crc16(body, 0, body.length))
      val frameB = fw.bytes
      out.write(frameB, 0, frameB.length)
      frameIdx += 1
      s0 += n
    }
    out.toByteArray
  }

  /** FIXED-order subframe with one Rice partition (order shrinks for
    * tiny blocks) */
  private def writeSubframe(w: BW, x: Array[Int], bps: Int): Unit = {
    val n = x.length
    val order = math.min(2, n - 1).max(0)
    w.u1(0)
    w.u(6, 8 + order) // FIXED
    w.u1(0) // no wasted bits
    var i = 0
    while (i < order) { w.s(bps, x(i)); i += 1 }
    val cs = FixedCoefs(order)
    val res = new Array[Int](n - order)
    i = order
    while (i < n) {
      var pred = 0L
      var j = 0
      while (j < order) { pred += cs(j).toLong * x(i - 1 - j); j += 1 }
      res(i - order) = (x(i).toLong - pred).toInt
      i += 1
    }
    // zigzag + the single-pass Rice parameter estimator: the optimal
    // param is ~log2(mean) — p grows while 2^(p+1) < mean
    val zz = res.map(v => (v << 1) ^ (v >> 31))
    var sum = 0L
    i = 0
    while (i < zz.length) { sum += zz(i) & 0xffffffffL; i += 1 }
    var best = 0
    while (best < 14 &&
      (zz.length.toLong << (best + 1)) < sum) best += 1
    w.u(2, 0) // 4-bit Rice params
    w.u(4, 0) // partition order 0
    w.u(4, best)
    i = 0
    while (i < zz.length) {
      val v = zz(i) & 0xffffffffL
      val q = (v >>> best).toInt
      require(q < (1 << 16), "rice quotient blowup (pick larger param)")
      w.zeros(q)
      w.u1(1)
      if (best > 0) w.uLong(best, v & ((1L << best) - 1))
      i += 1
    }
  }
}
