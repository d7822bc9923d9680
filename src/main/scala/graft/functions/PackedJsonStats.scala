package graft.functions

import java.io.{IOException, OutputStream}
import java.nio.{ByteBuffer, ByteOrder, CharBuffer}
import java.nio.charset.{CharsetDecoder, CodingErrorAction, StandardCharsets}

import scala.util.control.NonFatal

import com.fasterxml.jackson.core.{JsonEncoding, JsonFactory, JsonParser, JsonToken}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.json.JSONOptions
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Native codegen'd counts of a tokenized bin's json entry, for the
  * check stage's gate (`index/check_pair.py:37-40`).
  *
  * The gate needs five numbers per bin: the id and mask lengths, the
  * image count, and how often 32000/32001/32002 occur among the ids.
  * The declarative form — `from_json` into boxed arrays, copied into
  * unsafe arrays, then one `array_remove` copy per counted id — builds
  * every ~8k-id array several times to read those numbers once. This
  * expression walks the entry once and keeps only counters; the
  * Sq8Dequant pattern: `doGenCode` calls the scan, so it stays inside
  * whole-stage codegen.
  *
  * Result: a struct of nullable ints, [[PackedJsonStats.Schema]].
  * Each field is null exactly where `from_json(decode(json, 'UTF-8'),
  * CheckStage.PackedJsonSchema)` gives a null array (the id counts go
  * with `input_ids`), and the struct is null where that gives a null
  * struct. One deliberate difference: an entry that is not valid
  * UTF-8, on which `decode` throws and fails the job, comes out as an
  * unparseable record (every field null).
  *
  * [[PackedJsonScanner]] has two readings of an entry:
  *  - the byte pass, over the UTF-8 bytes, for the strict subset of
  *    JSON that the tokenize stage's bin writer produces: an object of
  *    the four schema keys holding arrays of in-range ints and of
  *    well-formed strings. It counts as it goes and decodes nothing;
  *  - the Jackson path, for everything else: the entry decoded to chars
  *    and read with the factory Spark's own `JSONOptions` builds,
  *    calling the same parser methods in the same order as Spark's
  *    `JacksonParser` does for this schema, error paths included.
  * The byte pass gives up at the first byte outside the subset, and the
  * entry then takes the Jackson path from its start. Inside the subset
  * both readings give the same row. `PackedJsonStatsSpec` pins the
  * kernel against `from_json` row for row, and the byte pass against
  * the Jackson path input for input.
  */
case class PackedJsonStats(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"packed_json_stats requires a binary input, got ${child.dataType}")

  override def dataType: DataType = PackedJsonStats.Schema

  override def nullable: Boolean = true

  override def prettyName: String = "packed_json_stats"

  @transient private lazy val scanner = new PackedJsonScanner

  override protected def nullSafeEval(input: Any): Any =
    scanner.stats(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[PackedJsonScanner].getName
    // one scanner (parser factory, counters, and the Jackson path's
    // decoder and char buffer once used) per generated operator
    // instance, i.e. per task
    val scanner = ctx.addMutableState(cls, "packedJsonScanner",
      v => s"$v = new $cls();", forceInline = true)
    nullSafeCodeGen(ctx, ev, json =>
      s"""
         |${ev.value} = $scanner.stats($json);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildInternal(
      newChild: Expression): PackedJsonStats = copy(child = newChild)
}

object PackedJsonStats {
  /** ids = size(input_ids), mask = size(loss_mask), images =
    * size(image); patch/start/end count 32000/32001/32002 in the ids. */
  val Schema: StructType = StructType(
    Seq("ids", "mask", "images", "patch", "start", "end")
      .map(StructField(_, IntegerType)))

  /** Column-API entry point: counts of the binary json entry `json`. */
  def stats(json: Column): Column =
    org.apache.spark.sql.GraftShim.column(
      PackedJsonStats(org.apache.spark.sql.GraftShim.expression(json)))
}

/** The scan behind [[PackedJsonStats]]. Mutable and single-threaded:
  * one instance per generated operator (or per expression instance on
  * the interpreted path).
  *
  * [[stats]] tries [[byteStats]] first and falls back to
  * [[jacksonStats]] when it declines. The byte pass accepts only this
  * subset of JSON, the shape the tokenize stage's `BinJson` writes:
  *  - optional whitespace (space, tab, LF, CR), one object, then only
  *    whitespace to the end of the entry;
  *  - each key exactly `image`, `input_ids`, `loss_mask` or `text`,
  *    unescaped; a repeated key keeps its last value;
  *  - `input_ids` and `loss_mask` arrays of ints
  *    `-?(0|[1-9][0-9]*)` of at most 10 digits inside the Int range;
  *  - `image` and `text` arrays of strings made of bytes >= 0x20 other
  *    than `"` and `\`, well-formed UTF-8 as the JDK decoder's REPORT
  *    mode reads it, and the escapes `\" \\ \/ \b \f \n \r \t \uXXXX`,
  *    no longer in bytes than the factory's maximum string length.
  * Everything else — nulls, other keys, floats, out-of-range ints,
  * Spark's lenient forms (single quotes, `NaN`), text after the root,
  * blank or invalid UTF-8 entries — is read by the Jackson path only.
  * On the subset the Jackson path converts every field without error,
  * so the byte pass's sizes and id counts are the Jackson path's. */
final class PackedJsonScanner {
  import JsonToken._
  import PackedJsonScanner._
  import PackedJsonStats.Schema
  import graft.index.CheckStage.{ImEndId, ImPatchId, ImStartId}

  private val factory: JsonFactory =
    new JSONOptions(Map.empty[String, String], "UTC", "").buildJsonFactory()
  // JacksonParser reads this legacy flag the same way
  private val allowEmptyString: Boolean =
    SQLConf.get.getConf(SQLConf.LEGACY_ALLOW_EMPTY_STRING_IN_JSON)
  // a string the Jackson path would reject as too long never takes the
  // byte pass: its bytes bound its chars from above
  private val maxStringBytes: Int =
    factory.streamReadConstraints().getMaxStringLength
  // the Jackson path's decoder and char buffer, made on its first use
  private var decoder: CharsetDecoder = _
  private var chars: Array[Char] = _
  private var nChars = 0

  // per document: field value set and non-null, its size, and the id
  // counts of input_ids; a failed field conversion leaves them as they
  // were (JacksonParser does not update the row), a null sets null
  private val present = new Array[Boolean](4)
  private val sizes = new Array[Int](4)
  private var patch, start, end = 0
  // the byte pass's entry read eight bytes at a time, little-endian
  private var words: ByteBuffer = _

  /** Counts of one json entry: null for an empty or blank entry (no
    * record), every field null for an unparseable one. */
  def stats(json: Array[Byte]): InternalRow = {
    val r = byteStats(json)
    if (r != null) r else jacksonStats(json)
  }

  /** The byte pass: the counts of an entry inside the subset, or null
    * when it declines. A blank entry is outside the subset, so null
    * never stands for a null struct here. */
  private[functions] def byteStats(json: Array[Byte]): InternalRow = {
    val n = json.length
    var i = skipWs(json, 0)
    if (i >= n || json(i) != '{') return null
    words = ByteBuffer.wrap(json).order(ByteOrder.LITTLE_ENDIAN)
    java.util.Arrays.fill(present, false)
    i = skipWs(json, i + 1)
    if (i < n && json(i) == '}') i += 1
    else {
      var more = true
      while (more) {
        val f = keyAt(json, i)
        if (f < 0) return null
        i = skipWs(json, i + Keys(f).length + 2)
        if (i >= n || json(i) != ':') return null
        i = skipWs(json, i + 1)
        if (i >= n || json(i) != '[') return null
        i = if (f == InputIds || f == LossMask) intArray(json, i + 1, f)
          else stringArray(json, i + 1, f)
        if (i < 0) return null
        i = skipWs(json, i)
        if (i >= n) return null
        if (json(i) == ',') i = skipWs(json, i + 1)
        else if (json(i) == '}') { i += 1; more = false }
        else return null
      }
    }
    if (skipWs(json, i) != n) null else row()
  }

  /** The field index of the unescaped schema key in quotes at `i`, or
    * -1. */
  private def keyAt(b: Array[Byte], i: Int): Int = {
    if (i >= b.length || b(i) != '"') return -1
    var f = 0
    while (f < Keys.length) {
      val k = Keys(f)
      val close = i + 1 + k.length
      if (close < b.length && b(close) == '"' &&
          java.util.Arrays.equals(b, i + 1, close, k, 0, k.length))
        return f
      f += 1
    }
    -1
  }

  /** An int array from just after its `[`: sets field `f` and returns
    * the index after its `]`, or -1 to decline. */
  private def intArray(b: Array[Byte], from: Int, f: Int): Int = {
    val n = b.length
    var i = skipWs(b, from)
    var count, nPatch, nStart, nEnd = 0
    if (i < n && b(i) == ']') i += 1
    else {
      var more = true
      while (more) {
        val neg = i < n && b(i) == '-'
        if (neg) i += 1
        val digits = digitRun(b, i)
        if (digits == 0 || digits > MaxDigits ||
            (digits > 1 && b(i) == '0')) return -1
        // only a 10-digit int can leave the Int range, and only ints as
        // long as the special ids can be one: no other needs its value
        if (digits == SpecialDigits || digits == MaxDigits) {
          var v = 0L
          var j = i
          while (j < i + digits) { v = v * 10 + (b(j) - '0'); j += 1 }
          if (neg) v = -v
          if (v < Int.MinValue || v > Int.MaxValue) return -1
          if (v == ImPatchId) nPatch += 1
          else if (v == ImStartId) nStart += 1
          else if (v == ImEndId) nEnd += 1
        }
        i += digits
        count += 1
        // the int ends at whitespace, `,` or `]`: a `.`, `e` or any
        // other byte declines
        i = skipWs(b, i)
        if (i >= n) return -1
        if (b(i) == ',') i = skipWs(b, i + 1)
        else if (b(i) == ']') { i += 1; more = false }
        else return -1
      }
    }
    present(f) = true
    sizes(f) = count
    if (f == InputIds) { patch = nPatch; start = nStart; end = nEnd }
    i
  }

  /** The number of ASCII digits from `i`, eight bytes at a time; past
    * 10 it may stop counting at 11. */
  private def digitRun(b: Array[Byte], i: Int): Int = {
    if (i + 8 <= b.length) {
      val w = words.getLong(i)
      // per byte: below '0' borrows, above '9' carries into the high
      // bit, non-ASCII has it; as in stops, the lowest flag is exact
      val stop = ((w - Ones * '0') | (w + Ones * (0x80 - 10 - '0')) | w) &
        Highs
      if (stop != 0) return java.lang.Long.numberOfTrailingZeros(stop) >>> 3
    }
    var j = i
    while (j < b.length && j - i <= MaxDigits && b(j) >= '0' && b(j) <= '9')
      j += 1
    j - i
  }

  /** A string array from just after its `[`: sets field `f` and returns
    * the index after its `]`, or -1 to decline. */
  private def stringArray(b: Array[Byte], from: Int, f: Int): Int = {
    val n = b.length
    var i = skipWs(b, from)
    var count = 0
    if (i < n && b(i) == ']') i += 1
    else {
      var more = true
      while (more) {
        if (i >= n || b(i) != '"') return -1
        i = string(b, i + 1)
        if (i < 0) return -1
        count += 1
        i = skipWs(b, i)
        if (i >= n) return -1
        if (b(i) == ',') i = skipWs(b, i + 1)
        else if (b(i) == ']') { i += 1; more = false }
        else return -1
      }
    }
    present(f) = true
    sizes(f) = count
    i
  }

  /** A string from just after its opening quote: the index after its
    * closing quote, or -1 to decline. */
  private def string(b: Array[Byte], from: Int): Int = {
    val n = b.length
    var i = from
    while (i < n) {
      // skip plain ASCII eight bytes at a time, up to the first stop
      var stop = 0L
      while (stop == 0 && i + 8 <= n) {
        stop = stops(words.getLong(i))
        if (stop == 0) i += 8
      }
      if (stop != 0) i += java.lang.Long.numberOfTrailingZeros(stop) >>> 3
      if (i >= n) return -1
      val c = b(i)
      if (c == '"') return if (i - from > maxStringBytes) -1 else i + 1
      if (c == '\\') i = escape(b, i)
      else if (c < 0) i = utf8(b, i)
      else if (c < 0x20) return -1
      else i += 1
      if (i < 0) return -1
    }
    -1
  }

  /** The index after the escape whose `\` is at `i`, or -1. */
  private def escape(b: Array[Byte], i: Int): Int =
    if (i + 1 >= b.length) -1
    else b(i + 1) match {
      case '"' | '\\' | '/' | 'b' | 'f' | 'n' | 'r' | 't' => i + 2
      case 'u' =>
        if (i + 5 < b.length && hex(b(i + 2)) && hex(b(i + 3)) &&
            hex(b(i + 4)) && hex(b(i + 5))) i + 6
        else -1
      case _ => -1
    }

  /** The Jackson path: decode, then Spark's `JacksonParser` walk. */
  private[functions] def jacksonStats(json: Array[Byte]): InternalRow = {
    if (!decode(json)) return unparseable
    val p = factory.createParser(chars, 0, nChars)
    try {
      var t = p.nextToken()
      if (t == null) return null
      // the struct root converter: only an object converts; anything
      // else (null, scalar, top-level array) is a bad record
      if (t != START_OBJECT) return unparseable
      java.util.Arrays.fill(present, false)
      t = p.nextToken()
      while (t != null && t != END_OBJECT) {
        val f = fieldIndex(p.currentName())
        if (f < 0) p.skipChildren()
        else
          try convertField(p, f)
          catch { case NonFatal(_) => p.skipChildren() }
        t = p.nextToken()
      }
      row()
    } catch {
      case _: RuntimeException | _: IOException => unparseable
    } finally p.close()
  }

  /** A bad record: every field null (`from_json`'s PERMISSIVE row). */
  private def unparseable: InternalRow = new GenericInternalRow(Schema.length)

  /** Strict UTF-8 into the reused char buffer; false on a malformed
    * sequence. */
  private def decode(json: Array[Byte]): Boolean = {
    if (decoder == null) {
      decoder = StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(CodingErrorAction.REPORT)
        .onUnmappableCharacter(CodingErrorAction.REPORT)
      chars = new Array[Char](1 << 16)
    }
    if (chars.length < json.length)
      chars = new Array[Char](math.max(json.length, chars.length * 2))
    val out = CharBuffer.wrap(chars)
    decoder.reset()
    if (decoder.decode(ByteBuffer.wrap(json), out, true).isError ||
        decoder.flush(out).isError) return false
    nChars = out.position()
    true
  }

  private def row(): InternalRow = {
    val r = new GenericInternalRow(Schema.length)
    if (present(Image)) r.setInt(2, sizes(Image))
    if (present(InputIds)) {
      r.setInt(0, sizes(InputIds))
      r.setInt(3, patch)
      r.setInt(4, start)
      r.setInt(5, end)
    }
    if (present(LossMask)) r.setInt(1, sizes(LossMask))
    r
  }

  /** JacksonParser's `parseJsonToken`: step over field names. */
  private def valueToken(p: JsonParser): JsonToken = {
    var t = p.currentToken()
    while (t == FIELD_NAME) t = p.nextToken()
    t
  }

  /** One field's array converter; throws where JacksonParser's does. */
  private def convertField(p: JsonParser, f: Int): Unit = {
    val t = valueToken(p)
    if (t == null || t == VALUE_NULL) { present(f) = false; return }
    if (t != START_ARRAY) failedConversion(p, t)
    val ints = f == InputIds || f == LossMask
    var n, nPatch, nStart, nEnd = 0
    var e = p.nextToken()
    while (e != null && e != END_ARRAY) {
      val et = valueToken(p)
      if (et != null && et != VALUE_NULL) {
        if (ints) {
          if (et == VALUE_NUMBER_INT) {
            val id = p.getIntValue
            if (id == ImPatchId) nPatch += 1
            else if (id == ImStartId) nStart += 1
            else if (id == ImEndId) nEnd += 1
          } else if (!(et == VALUE_STRING && p.getTextLength < 1 &&
              allowEmptyString)) failedConversion(p, et)
        } else if (et == VALUE_STRING) p.getTextLength
        // the string converter renders any other value as JSON text
        else copyStructure(p)
      }
      n += 1
      e = p.nextToken()
    }
    present(f) = true
    sizes(f) = n
    if (f == InputIds) { patch = nPatch; start = nStart; end = nEnd }
  }

  /** JacksonParser's `failedConversion`: a string value is read to its
    * end (its length is tested for emptiness) before the throw. */
  private def failedConversion(p: JsonParser, t: JsonToken): Nothing = {
    if (t == VALUE_STRING) p.getTextLength
    throw Mismatch
  }

  private def copyStructure(p: JsonParser): Unit = {
    val g = factory.createGenerator(OutputStream.nullOutputStream(),
      JsonEncoding.UTF8)
    try g.copyCurrentStructure(p) finally g.close()
  }
}

object PackedJsonScanner {
  private val Image = 0
  private val InputIds = 1
  private val LossMask = 2
  private val Text = 3

  /** The schema keys' bytes, by field index. */
  private val Keys: Array[Array[Byte]] =
    Array("image", "input_ids", "loss_mask", "text")
      .map(_.getBytes(StandardCharsets.US_ASCII))

  /** Int.MinValue has 10 digits. */
  private final val MaxDigits = 10

  /** The digit count the special ids 32000/32001/32002 share. */
  private val SpecialDigits: Int = {
    import graft.index.CheckStage.{ImEndId, ImPatchId, ImStartId}
    val lengths = Seq(ImPatchId, ImStartId, ImEndId).map(_.toString.length)
    require(lengths.distinct.size == 1, "special ids of unequal lengths")
    lengths.head
  }

  private def skipWs(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i < b.length && b(i) <= ' ' && (b(i) == ' ' || b(i) == '\n' ||
        b(i) == '\r' || b(i) == '\t')) i += 1
    i
  }

  private def hex(c: Byte): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')

  private final val Ones = 0x0101010101010101L
  private final val Highs = 0x8080808080808080L

  /** The high bit of each byte of `w` (little-endian) that ends a plain
    * ASCII run inside a string: below 0x20, `"`, `\` or non-ASCII. No
    * borrow reaches a byte below the first such byte, so the lowest set
    * bit marks it exactly. */
  private def stops(w: Long): Long = {
    val q = w ^ (Ones * '"')
    val s = w ^ (Ones * '\\')
    ((w - Ones * 0x20) & ~w | (q - Ones) & ~q | (s - Ones) & ~s | w) & Highs
  }

  /** The index after the well-formed UTF-8 sequence whose lead byte
    * (non-ASCII) is at `i`, or -1: the JDK decoder's REPORT rules, so no
    * overlong form, surrogate or code point above U+10FFFF. */
  private def utf8(b: Array[Byte], i: Int): Int = {
    val n = b.length
    val c = b(i) & 0xff
    def cont(j: Int) = (b(j) & 0xc0) == 0x80
    def second(lo: Int, hi: Int) = {
      val c1 = b(i + 1) & 0xff
      c1 >= lo && c1 <= hi
    }
    if (c < 0xc2) -1
    else if (c < 0xe0) { if (i + 1 < n && cont(i + 1)) i + 2 else -1 }
    else if (c < 0xf0) {
      if (i + 2 < n &&
          second(if (c == 0xe0) 0xa0 else 0x80, if (c == 0xed) 0x9f else 0xbf) &&
          cont(i + 2)) i + 3
      else -1
    } else if (c < 0xf5) {
      if (i + 3 < n &&
          second(if (c == 0xf0) 0x90 else 0x80, if (c == 0xf4) 0x8f else 0xbf) &&
          cont(i + 2) && cont(i + 3)) i + 4
      else -1
    } else -1
  }

  /** Field names match case-sensitively, as `StructType.getFieldIndex`. */
  private def fieldIndex(name: String): Int = name match {
    case "image" => Image
    case "input_ids" => InputIds
    case "loss_mask" => LossMask
    case "text" => Text
    case _ => -1
  }

  /** A value the schema's type cannot take (caught per field). */
  private object Mismatch extends RuntimeException(null, null, false, false)
}
