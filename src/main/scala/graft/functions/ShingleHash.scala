package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types._

/** Exploded distinct word-n-gram hash kernel for the curation suite
  * (qd11 decontamination, qd12 duplicated-span mining) and the dedup
  * verifies' shingle relation (Jaccard and containment).
  *
  * The declarative form — `explode(array_distinct(transform(shingles,
  * substring(md5(...)))))` — evaluates the md5 inside a Catalyst
  * higher-order function, which runs interpreted (the MinHash lesson;
  * measured 15.4 s for qd12 at sf0.1 vs ~1.5 s for this kernel). One
  * typed mapPartitions pass lowercases, shingles, hashes and dedups per
  * document, emitting (doc_id, 16-hex-prefix) rows — value-identical to
  * the declarative form and the DuckDB oracle (`substr(md5(x), 1, 16)`),
  * asserted in CurationSpec.
  *
  * Scale: narrow flatMap, no shuffle; the 16-hex hash (2^64 space) is
  * the ONLY payload downstream joins/aggregations shuffle.
  */
object ShingleHash {

  /** Shingle-hash WIRE WIDTH: md5 truncated to this many hex chars
    * (2^64 ids at 16). The knob to widen if a corpus ever crosses the
    * collision line quantified in SCALE.md §"16-hex collision posture"
    * — at 10^13 distinct corpus shingles the expected birthday
    * collisions are ~2.7M (~3×10^-7 of shingles), and every collision
    * only ADDS a shared count, biasing jaccard/containment toward MORE
    * dedup (the safe side). Every engine-side producer derives from
    * this constant; the DuckDB oracles embed the matching literal
    * `substr(md5(x), 1, 16)`. */
  val HashHexChars: Int = 16
  private val HashBytes = HashHexChars / 2

  /** k-word shingles of the lowercased text; shorter docs fall back to
    * the whole text — mirroring the guarded SQL CASE. */
  def kGrams(text: String, k: Int): Array[String] = {
    // Locale.ROOT: tr_TR 'I'→'ı' would diverge from Spark/DuckDB lower()
    val ws = text.toLowerCase(java.util.Locale.ROOT).split(" ", -1)
    if (ws.length >= k)
      Array.tabulate(ws.length - k + 1)(i => ws.slice(i, i + k).mkString(" "))
    else Array(ws.mkString(" "))
  }

  /** (doc_id, text) → exploded (doc_id, sh) with sh = distinct
    * `substr(md5(gram), 1, 16)` per document. */
  def exploded(df: DataFrame, k: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("sh", StringType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(schema)
    df.select("doc_id", "text")
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
      .mapPartitions { it =>
        val md = MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          val grams = kGrams(text, k)
          val seen = new java.util.LinkedHashSet[String](grams.length * 2)
          var i = 0
          while (i < grams.length) {
            seen.add(hex16(md.digest(grams(i).getBytes(UTF_8))))
            i += 1
          }
          val out = new Array[Row](seen.size)
          val jt = seen.iterator()
          var j = 0
          while (jt.hasNext) { out(j) = Row(id, jt.next()); j += 1 }
          out.iterator
        }
      }(enc)
  }

  /** (doc_id, text) → exploded (doc_id, pos, sh) with one row PER GRAM
    * POSITION (1-based, no dedup) — the span-scrub (qd21) input: the
    * scrubber must know WHERE each duplicated gram starts, not just
    * that the document contains it. Same hash convention as
    * [[exploded]]; a short doc (< k words) emits its whole-text gram at
    * pos 1. Narrow flatMap, no shuffle; downstream joins carry
    * (doc_id, pos, 16-hex) only. */
  def positional(df: DataFrame, k: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("pos", IntegerType),
      StructField("sh", StringType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(schema)
    df.select("doc_id", "text")
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
      .mapPartitions { it =>
        val md = MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          val grams = kGrams(text, k)
          Array.tabulate(grams.length)(i =>
            Row(id, i + 1, hex16(md.digest(grams(i).getBytes(UTF_8)))))
        }
      }(enc)
  }

  /** first HashBytes digest bytes as HashHexChars lowercase hex chars —
    * the same value as `substr(md5(x), 1, HashHexChars)`. */
  private def hex16(d: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(HashHexChars)
    var i = 0
    while (i < HashBytes) {
      sb.append(Character.forDigit((d(i) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(d(i) & 0xf, 16))
      i += 1
    }
    sb.toString
  }
}
