package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{col, explode, posexplode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Exploded word-n-gram hash relations for the curation suite (qd11
  * decontamination, qd12 duplicated-span mining, the qd21/qd25 span
  * scrub, the curate stage's span/decontam/scrub stages) and the dedup
  * verifies' shingle relation (Jaccard and containment).
  *
  * The declarative form — `explode(array_distinct(transform(shingles,
  * substring(md5(...)))))` — evaluates the md5 inside a Catalyst
  * higher-order function, which runs interpreted (the MinHash lesson).
  * Both relations here are a Catalyst `explode` over the codegen'd
  * [[ShingleHashes]] array, so the hashing runs inside whole-stage
  * codegen and never crosses an encoder. The values equal the
  * declarative form and the DuckDB oracle (`substr(md5(x), 1, 16)`),
  * asserted in CurationSpec; ShingleHashSpec pins them against the
  * per-gram String kernel this replaced.
  *
  * Scale: a narrow generate, no shuffle; the 16-hex hash (2^64 space)
  * is the ONLY payload downstream joins/aggregations shuffle.
  */
object ShingleHash {

  /** Shingle-hash WIRE WIDTH: md5 truncated to this many hex chars,
    * the 64-bit prefix [[ShingleHashes]] dedups on. SCALE.md
    * §"16-hex collision posture" quantifies the collision line: at
    * 10^13 distinct corpus shingles the expected birthday collisions
    * are ~2.7M (~3×10^-7 of shingles), and every collision only ADDS a
    * shared count, biasing jaccard/containment toward MORE dedup (the
    * safe side). The DuckDB oracles embed the matching literal
    * `substr(md5(x), 1, 16)`. */
  val HashHexChars: Int = 16

  /** (doc_id, text) → exploded (doc_id, sh) with sh = distinct
    * `substr(md5(gram), 1, 16)` per document, in first-occurrence
    * order. A null text yields no rows. */
  def exploded(df: DataFrame, k: Int): DataFrame =
    df.select(col("doc_id").cast(LongType).as("doc_id"),
      explode(ShingleHashes.hashes(col("text"), k, distinct = true))
        .as("sh"))

  /** (doc_id, text) → exploded (doc_id, pos, sh) with one row PER GRAM
    * POSITION (1-based, no dedup) — the span-scrub (qd21) input: the
    * scrubber must know WHERE each duplicated gram starts, not just
    * that the document contains it. Same hash convention as
    * [[exploded]]; a short doc (< k words) emits its whole-text gram at
    * pos 1. Narrow generate, no shuffle; downstream joins carry
    * (doc_id, pos, 16-hex) only. */
  def positional(df: DataFrame, k: Int): DataFrame =
    df.select(col("doc_id").cast(LongType).as("doc_id"),
        posexplode(ShingleHashes.hashes(col("text"), k, distinct = false))
          .as(Seq("p", "sh")))
      .select(col("doc_id"), (col("p") + 1).as("pos"), col("sh"))
}

/** Native codegen'd shingle hashes of one text: the `k`-word grams of
  * its `Locale.ROOT` lowercase, split on `' '` only (a text of fewer
  * than `k` words is one gram, the whole text), each hashed to the
  * 16-hex prefix of the md5 of its UTF-8 bytes. With `distinct` only
  * each gram hash's first occurrence is kept; without, there is one
  * element per gram position. Null for a null text.
  *
  * The PackedJsonStats pattern: `doGenCode` calls a [[ShingleScanner]]
  * held once per task, so an `explode` over it stays inside whole-stage
  * codegen.
  */
case class ShingleHashes(child: Expression, k: Int, distinct: Boolean)
    extends UnaryExpression {

  require(k >= 1, s"shingle width must be >= 1, got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes requires a string input, got $other")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "shingle_hashes"

  @transient private lazy val scanner = new ShingleScanner(k, distinct)

  override protected def nullSafeEval(input: Any): Any =
    scanner.hashes(input.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[ShingleScanner].getName
    // one scanner (digest, word-start and dedup buffers) per generated
    // operator instance, i.e. per task
    val scanner = ctx.addMutableState(cls, "shingleScanner",
      v => s"$v = new $cls($k, $distinct);", forceInline = true)
    nullSafeCodeGen(ctx, ev, text =>
      s"${ev.value} = $scanner.hashes($text);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): ShingleHashes = copy(child = newChild)
}

object ShingleHashes {
  /** Column-API entry point: the shingle hashes of `text`. */
  def hashes(text: Column, k: Int, distinct: Boolean): Column =
    org.apache.spark.sql.GraftShim.column(ShingleHashes(
      org.apache.spark.sql.GraftShim.expression(text), k, distinct))
}

/** The scan behind [[ShingleHashes]]. Mutable and single-threaded: one
  * instance per generated operator (or per expression instance on the
  * interpreted path).
  *
  * The text is lowercased and encoded once; each gram is then digested
  * in place as a byte range of that encoding. That range holds exactly
  * the bytes of the gram's own encoding: a space byte (0x20) never
  * occurs inside a multi-byte UTF-8 sequence, and a surrogate pair never
  * spans a space. No lone surrogate reaches the scan: a `UTF8String`
  * decodes to well-formed UTF-16 (a malformed byte as U+FFFD), and
  * Spark already stored a lone surrogate as `?`.
  */
final class ShingleScanner(k: Int, distinct: Boolean) {
  import ShingleScanner._

  private val md = MessageDigest.getInstance("MD5")
  private val digest = new Array[Byte](16)
  private var starts = new Array[Int](256)
  private var keys = new Array[Long](256)
  // open addressing over 64-bit prefixes, 0 = empty slot
  private var table = new Array[Long](512)
  private var mask = 0
  private var hasZero = false

  def hashes(text: UTF8String): ArrayData = {
    val bytes = text.toString.toLowerCase(java.util.Locale.ROOT)
      .getBytes(UTF_8)
    val len = bytes.length
    // word w starts at starts(w); starts(0) stays 0
    var words = 1
    var i = 0
    while (i < len) {
      if (bytes(i) == ' ') {
        if (words == starts.length)
          starts = java.util.Arrays.copyOf(starts, words * 2)
        starts(words) = i + 1
        words += 1
      }
      i += 1
    }
    // gram g spans words g until g + w; a short text is one gram
    val w = math.min(k, words)
    val grams = words - w + 1
    if (keys.length < grams) keys = new Array[Long](grams)
    if (distinct) clear(grams)
    var n = 0
    var g = 0
    while (g < grams) {
      val from = starts(g)
      val until = if (g + w < words) starts(g + w) - 1 else len
      md.update(bytes, from, until - from)
      md.digest(digest, 0, digest.length)
      val h = prefix(digest)
      if (!distinct || add(h)) { keys(n) = h; n += 1 }
      g += 1
    }
    hexArray(keys, n)
  }

  /** An empty set with room for `n` keys at load <= 1/2. */
  private def clear(n: Int): Unit = {
    val cap = Integer.highestOneBit(math.max(n, 2) * 2 - 1) << 1
    if (table.length < cap) table = new Array[Long](cap)
    else java.util.Arrays.fill(table, 0, cap, 0L)
    mask = cap - 1
    hasZero = false
  }

  /** True when `h` was not yet in the set. */
  private def add(h: Long): Boolean = {
    if (h == 0L) {
      val fresh = !hasZero
      hasZero = true
      return fresh
    }
    var s = (h ^ (h >>> 32)).toInt & mask
    while (table(s) != 0L) {
      if (table(s) == h) return false
      s = (s + 1) & mask
    }
    table(s) = h
    true
  }
}

object ShingleScanner {
  private val HexDigits = "0123456789abcdef".getBytes(UTF_8)

  /** The digest's first 8 bytes, big-endian: its 16-hex prefix. */
  private def prefix(d: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  /** The first `n` keys as an unsafe array of 16-byte lowercase hex
    * strings, laid out as `UnsafeArrayData` reads it: the element
    * count, a (cleared) null bitmap, one (offset << 32 | size) word per
    * element, then the string bytes. */
  private def hexArray(keys: Array[Long], n: Int): ArrayData = {
    val width = ShingleHash.HashHexChars
    val header = UnsafeArrayData.calculateHeaderPortionInBytes(n)
    val data = header + 8 * n
    val size = data + width * n
    val buf = new Array[Byte](size)
    val base = Platform.BYTE_ARRAY_OFFSET
    Platform.putLong(buf, base, n.toLong)
    var i = 0
    while (i < n) {
      val off = data + width * i
      Platform.putLong(buf, base + header + 8L * i,
        (off.toLong << 32) | width)
      val h = keys(i)
      var j = 0
      while (j < width) {
        buf(off + j) = HexDigits(((h >>> (60 - 4 * j)) & 0xf).toInt)
        j += 1
      }
      i += 1
    }
    val out = new UnsafeArrayData
    out.pointTo(buf, base, size)
    out
  }
}
