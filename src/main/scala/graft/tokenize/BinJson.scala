package graft.tokenize

import graft.tokenize.TokenizeStage.Packed
import graft.wds.TarIO
import java.nio.charset.StandardCharsets.US_ASCII

/** A tokenized bin's json entry, written as UTF-8 bytes into one
  * exact-size array. The bytes are what json4s `compact` wrote (a
  * Jackson generator over a Writer, then [[TarIO.utf8]]): the four keys
  * in order, ints in decimal, and each string as [[TarIO.utf8]] (a lone
  * surrogate is `?`) escaped at the byte level. That is exact because
  * every byte JSON escapes is ASCII and UTF-8 multi-byte sequences use
  * only bytes >= 0x80. The escapes are Jackson's: `\"`, `\\`,
  * `\b \t \n \f \r`, other bytes below 0x20 as `\u00XX` in uppercase
  * hex; DEL, `/` and U+2028/9 stay as they are. */
private[tokenize] object BinJson {

  private def ascii(s: String) = s.getBytes(US_ASCII)
  private val Keys = Seq("{\"image\":[", "],\"input_ids\":[",
    "],\"loss_mask\":[", "],\"text\":[", "]}").map(ascii)
  private val KeysSize = Keys.map(_.length).sum
  private val Hex = ascii("0123456789ABCDEF")
  /** per ASCII byte: the letter its escape puts after `\`, `u` for
    * `\u00XX`, 0 for a byte written as it is. */
  private val Escape: Array[Byte] = {
    val a = new Array[Byte](0x80)
    java.util.Arrays.fill(a, 0, 0x20, 'u'.toByte)
    "\"\\\b\t\n\f\r".zip("\"\\btnfr").foreach { case (c, e) => a(c) = e.toByte }
    a
  }
  private def escape(b: Byte): Byte = if (b < 0) 0 else Escape(b)

  def apply(p: Packed): Array[Byte] = {
    val image = p.image.map(TarIO.utf8)
    val text = p.text.map(TarIO.utf8)
    val out = new Array[Byte](KeysSize + stringsSize(image) +
      intsSize(p.inputIds) + intsSize(p.lossMask) + stringsSize(text))
    var pos = put(Keys(0), out, 0)
    pos = putStrings(image, out, pos)
    pos = put(Keys(1), out, pos)
    pos = putInts(p.inputIds, out, pos)
    pos = put(Keys(2), out, pos)
    pos = putInts(p.lossMask, out, pos)
    pos = put(Keys(3), out, pos)
    pos = putStrings(text, out, pos)
    put(Keys(4), out, pos)
    out
  }

  private def put(b: Array[Byte], out: Array[Byte], pos: Int): Int = {
    System.arraycopy(b, 0, out, pos, b.length)
    pos + b.length
  }

  /** `v`'s decimal length, sign included. */
  private def digits(v: Int): Int =
    if (v < 0) { if (v == Int.MinValue) 11 else 1 + digits(-v) }
    else if (v < 10) 1 else if (v < 100) 2 else if (v < 1000) 3
    else if (v < 10000) 4 else if (v < 100000) 5 else if (v < 1000000) 6
    else if (v < 10000000) 7 else if (v < 100000000) 8
    else if (v < 1000000000) 9 else 10

  private def intsSize(a: Array[Int]): Int = {
    var n = math.max(0, a.length - 1)
    var i = 0
    while (i < a.length) { n += digits(a(i)); i += 1 }
    n
  }

  private def putInts(a: Array[Int], out: Array[Byte], pos0: Int): Int = {
    var pos = pos0
    var i = 0
    while (i < a.length) {
      if (i > 0) { out(pos) = ','; pos += 1 }
      val v = a(i)
      val end = pos + digits(v)
      // digits from the right, on the negative side so MinValue fits
      var x = if (v < 0) v else -v
      var j = end
      while ({ j -= 1; out(j) = ('0' - x % 10).toByte; x /= 10; x != 0 }) ()
      if (v < 0) out(pos) = '-'
      pos = end
      i += 1
    }
    pos
  }

  private def stringsSize(ss: Seq[Array[Byte]]): Int =
    math.max(0, ss.length - 1) + ss.iterator.map { s =>
      var n = s.length + 2
      var i = 0
      while (i < s.length) {
        val e = escape(s(i))
        if (e != 0) n += (if (e == 'u') 5 else 1)
        i += 1
      }
      n
    }.sum

  private def putStrings(
      ss: Seq[Array[Byte]], out: Array[Byte], pos0: Int): Int = {
    var pos = pos0
    ss.iterator.zipWithIndex.foreach { case (s, k) =>
      if (k > 0) { out(pos) = ','; pos += 1 }
      out(pos) = '"'
      pos += 1
      var run = 0 // start of the bytes not yet copied
      var i = 0
      while (i < s.length) {
        val e = escape(s(i))
        if (e != 0) {
          System.arraycopy(s, run, out, pos, i - run)
          pos += i - run
          out(pos) = '\\'
          out(pos + 1) = e
          if (e != 'u') pos += 2
          else {
            out(pos + 2) = '0'; out(pos + 3) = '0'
            out(pos + 4) = Hex(s(i) >> 4); out(pos + 5) = Hex(s(i) & 0xf)
            pos += 6
          }
          run = i + 1
        }
        i += 1
      }
      System.arraycopy(s, run, out, pos, s.length - run)
      out(pos + s.length - run) = '"'
      pos += s.length - run + 1
    }
    pos
  }
}
