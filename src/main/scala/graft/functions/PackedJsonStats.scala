package graft.functions

import java.io.{IOException, OutputStream}
import java.nio.{ByteBuffer, CharBuffer}
import java.nio.charset.{CodingErrorAction, StandardCharsets}

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
  * expression walks the entry once with a Jackson parser and keeps
  * only counters; the Sq8Dequant pattern: `doGenCode` calls the scan,
  * so it stays inside whole-stage codegen.
  *
  * Result: a struct of nullable ints, [[PackedJsonStats.Schema]].
  * Each field is null exactly where `from_json(decode(json, 'UTF-8'),
  * CheckStage.PackedJsonSchema)` gives a null array (the id counts go
  * with `input_ids`), and the struct is null where that gives a null
  * struct. To keep that exact, [[PackedJsonScanner]] uses the factory
  * Spark's own `JSONOptions` builds and calls the same parser methods
  * in the same order as Spark's `JacksonParser` does for this schema,
  * error paths included. One deliberate difference: an entry that is
  * not valid UTF-8, on which `decode` throws and fails the job, comes
  * out as an unparseable record (every field null).
  * `PackedJsonStatsSpec` pins the equivalence row for row.
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
    // one scanner (parser factory, decoder, char buffer) per generated
    // operator instance, i.e. per task
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
  * the interpreted path). */
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
  private val decoder = StandardCharsets.UTF_8.newDecoder()
    .onMalformedInput(CodingErrorAction.REPORT)
    .onUnmappableCharacter(CodingErrorAction.REPORT)
  private var chars = new Array[Char](1 << 16)
  private var nChars = 0

  // per document: field value set and non-null, its size, and the id
  // counts of input_ids; a failed field conversion leaves them as they
  // were (JacksonParser does not update the row), a null sets null
  private val present = new Array[Boolean](4)
  private val sizes = new Array[Int](4)
  private var patch, start, end = 0

  /** Counts of one json entry: null for an empty or blank entry (no
    * record), every field null for an unparseable one. */
  def stats(json: Array[Byte]): InternalRow = {
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
