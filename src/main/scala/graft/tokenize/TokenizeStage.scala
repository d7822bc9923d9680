package graft.tokenize

import graft.pack.Conversations
import graft.pack.Conversations.Turn
import graft.wds.{Codecs, Sample, TarIO, WdsWriter}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** E2 — the tokenize stage (`tokenize/main.py:149-217`): pack shards →
  * tokenized, greedily ≤8000-token-packed shards.
  *
  * The packer is an order-sensitive sequential fold (A5) — the one
  * operator in the reference that must NOT be a hash aggregation. Spark
  * mapping (SURVEY.md §4.2.3): one merge group (= `shard_size` input
  * tars) is one partition; the fold runs in `mapPartitions` over the
  * partition's file-ordered sample stream. At 100 TB parallelism comes
  * from the number of merge groups, never from splitting inside one —
  * identical to the reference's process-per-group model.
  */
object TokenizeStage {

  val MaxTokens = 8000 // `tokenize/main.py:186,193`
  val MaxImageDim = 1280 // `tokenize/main.py:197-199`

  /** One tokenized (not yet merged) document. */
  final case class TokDoc(
      key: String,
      imageNames: Seq[String],
      images: Seq[Array[Byte]],
      inputIds: Array[Int],
      lossMask: Array[Int],
      text: String)

  /** A merged ≤8k pack (K5 `save_to_tar` result, pre-serialization). */
  final case class Packed(
      key: String,
      image: Seq[String],
      images: Seq[Array[Byte]],
      inputIds: Array[Int],
      lossMask: Array[Int],
      text: Seq[String])

  /** K5 merge (`tokenize/main.py:73-85`): first doc is the base; trailing
    * docs contribute ids/mask minus their BOS; images renumbered 0..n.
    * Each doc is copied once into an exact-size array. */
  def merge(key: String, docs: Seq[TokDoc]): Packed = {
    require(docs.nonEmpty)
    def concat(part: TokDoc => Array[Int]): Array[Int] = {
      val head = part(docs.head)
      val out = new Array[Int](head.length +
        docs.tail.iterator.map(d => math.max(0, part(d).length - 1)).sum)
      System.arraycopy(head, 0, out, 0, head.length)
      var pos = head.length
      docs.tail.foreach { d =>
        val a = part(d)
        if (a.length > 1) {
          System.arraycopy(a, 1, out, pos, a.length - 1)
          pos += a.length - 1
        }
      }
      out
    }
    val ids = concat(_.inputIds)
    val mask = concat(_.lossMask)
    val images = docs.flatMap(_.images)
    Packed(key, images.indices.map(_.toString), images, ids, mask,
      docs.map(_.text))
  }

  /** A5 — the greedy packer fold, exact reference semantics:
    *  - flush when cached + incoming > 8000 (flushed pack takes the
    *    INCOMING sample's key — `cached_key` is set before the check)
    *  - docs with ≥ 8000 tokens alone are skipped (never cached)
    *  - the final partial buffer is deliberately dropped (duplicate-key
    *    avoidance, `main.py:212-215`)
    */
  def greedyPack(docs: Iterator[TokDoc], maxTokens: Int = MaxTokens):
      Iterator[Packed] = new Iterator[Packed] {
    private var buffer = Vector.empty[TokDoc]
    private var bufLen = 0
    private var pending: Packed = _

    @annotation.tailrec
    private def advance(): Unit = {
      if (!docs.hasNext) { pending = null }
      else {
        val doc = docs.next()
        var out: Packed = null
        if (bufLen + doc.inputIds.length > maxTokens && buffer.nonEmpty) {
          out = merge(doc.key, buffer)
          buffer = Vector.empty
          bufLen = 0
        }
        if (doc.inputIds.length < maxTokens) {
          buffer :+= doc
          bufLen += doc.inputIds.length
        }
        if (out != null) pending = out else advance()
      }
    }

    override def hasNext: Boolean = {
      if (pending == null) advance()
      pending != null
    }
    override def next(): Packed = {
      if (!hasNext) throw new NoSuchElementException
      val r = pending; pending = null; r
    }
  }

  // ------------------------------------------------------------ stage glue

  private val jsonSchema = "json"

  /** One parsed pack-shard sample: expanded conversation turns, the
    * image name list, resolved image bytes, and the reference's P14
    * validation verdict. */
  final case class ParsedPack(
      turns: Seq[Turn],
      names: Seq[String],
      images: Seq[Array[Byte]],
      valid: Boolean)

  /** Parse a pack-shard sample (`main.py:166-184`): image bytes resolve
    * via the interleave entry names (entry key = last '-'-component +
    * ".jpg"), and `sampleType` selects the reference's branches —
    * prompt/txt types run `conversate(p, t, type)` (so kf's
    * `<Iimage>/<Pimage>` tokens expand) and validate the FIRST turn's
    * sentinel count; conversation types (merlin-s/sft/image) run
    * `conversate_multi` and validate the summed RAW `<image>` count
    * over ALL human turns (`main.py:169-179`). */
  def parsePackSample(
      s: Sample,
      sampleType: String = "un"): Option[ParsedPack] = {
    implicit val fmts: Formats = DefaultFormats
    s.utf8(jsonSchema).flatMap { raw =>
      val j = JsonMethods.parse(raw)
      val names = (j \ "image_name_list").extractOpt[Seq[String]].getOrElse(Nil)
      val prompt = (j \ "prompt").extractOpt[String]
      val txt = (j \ "txt").extractOpt[String]
      val convs = (j \ "conversations").extractOpt[Seq[Map[String, String]]]
        .map(_.map(m =>
          Turn(m.getOrElse("from", ""), m.getOrElse("value", ""))))
      val parsed: Option[(Seq[Turn], Boolean)] = (prompt, txt) match {
        case (Some(p), Some(t)) =>
          val turns = Conversations.conversate(p, t, sampleType)
          Some((turns, countsMatch(turns, names)))
        case _ => convs.map { raw =>
          (Conversations.conversateMulti(raw),
            rawImageCount(raw) == names.length)
        }
      }
      parsed.map { case (ts, valid) =>
        val imgs = names.flatMap { n =>
          s.entries.get(n.split("-").last + ".jpg")
        }
        ParsedPack(ts, names, imgs, valid)
      }
    }
  }

  /** P14 validation, prompt/txt branch (`main.py:177-179`): sentinel
    * count in the first (expanded) human turn must equal the image
    * count. */
  def countsMatch(turns: Seq[Turn], imageNames: Seq[String]): Boolean =
    turns.headOption.exists(t =>
      Conversations.specialCount(t.value) == imageNames.length)

  /** P14 validation, conversations branch (`main.py:170-176`): the
    * summed RAW `<image>` count across ALL human turns — merlin-s
    * samples legitimately spread images over several turns. */
  def rawImageCount(convs: Seq[Turn]): Int =
    convs.iterator.filter(_.from == "human").map { t =>
      var count = 0
      var idx = t.value.indexOf(Conversations.ImageToken)
      while (idx >= 0) {
        count += 1
        idx = t.value.indexOf(Conversations.ImageToken,
          idx + Conversations.ImageToken.length)
      }
      count
    }.sum

  /** F11 resize: images over 1280px are resized to exactly 1280×1280
    * (aspect-destroying, faithful to `main.py:197-199`). The dimension
    * check reads container headers ([[Codecs.imageDims]]) so the
    * common no-resize case skips the full ImageIO decode — at spine
    * scale that decode was the dominant E2 per-image cost. */
  def resizeIfNeeded(imageBytes: Array[Byte]): Array[Byte] = {
    Codecs.imageDims(imageBytes) match {
      case Some((h, w)) if math.max(h, w) <= MaxImageDim =>
        return imageBytes
      case _ => ()
    }
    val img = Codecs.decodeImage(imageBytes)
    if (math.max(img.height, img.width) <= MaxImageDim) imageBytes
    else {
      // nearest-neighbor resample to 1280×1280
      val (h, w) = (MaxImageDim, MaxImageDim)
      val out = new Array[Byte](h * w * img.nChannels)
      var y = 0
      while (y < h) {
        val sy = y * img.height / h
        var x = 0
        while (x < w) {
          val sx = x * img.width / w
          var c = 0
          while (c < img.nChannels) {
            out((y * w + x) * img.nChannels + c) =
              img.data((sy * img.width + sx) * img.nChannels + c)
            c += 1
          }
          x += 1
        }
        y += 1
      }
      Codecs.encodeImage(
        Codecs.ImageData(h, w, img.nChannels, img.mode, out), "png")
    }
  }

  /** Serialize a Packed to the tokenized-shard sample group:
    * `<key>.json` + `<key>-<i>.jpg` (`main.py:73-85`); the json is
    * [[BinJson]]'s bytes. */
  def toSampleGroup(p: Packed, url: String = ""): Sample = {
    val frameEntries = p.images.zipWithIndex.map { case (b, i) =>
      s"$i.jpg" -> b
    }.toMap
    Sample(p.key, url, frameEntries + ("json" -> BinJson(p)))
  }

  /** Physical write order for a packed sample (json first, then frames
    * — the interleave layout E3 reads back). Same sibling-explode rule
    * as the pack stage; one implementation so the layouts can't drift. */
  def flattenForWrite(s: Sample): Seq[Sample] =
    graft.pack.PackStage.flattenForWrite(s)

  /** Run E2 over a pack-shard Dataset: validate → tokenize → greedy-pack
    * per partition (partition = merge group) → tokenized shards.
    * Keys are `<partitionId>-<localIdx>` mirroring `{tar_idx}-{file_idx}`.
    */
  def run(
      packShards: Dataset[Sample],
      outDir: String,
      tokenizer: SpecialTokenTokenizer = Tokenizers.testTokenizer(),
      maxTokens: Int = MaxTokens,
      sampleType: String = "un"):
      DataFrame = {
    implicit val enc = Encoders.product[Sample]
    val packed = packShards.mapPartitions { it =>
      // doc key = "<tarIdx within merge group>-<fileIdx within tar>",
      // the reference's cached_key (`tokenize/main.py:159-169`:
      // enumerate over the group's tars × enumerate over each tar's
      // samples). RUN-LOCAL ids (partition id) must not leak into
      // keys: a resumed `--start/--end` range re-tokenizing the same
      // group must reproduce the single run's tars BYTE-FOR-BYTE, and
      // partition ids restart per invocation. Tar transitions are
      // observed through the sample's url (one group streams its tars
      // in order). Caveat, documented not guarded: the reference's
      // input space is an os.listdir (unique paths per group), so url
      // transitions are exact there; a mix-spec `resample` that puts
      // the SAME tar twice ADJACENTLY in one merge group would fold
      // the repeat into one tarIdx (keys diverge label-wise; bin
      // contents are unaffected since every sample still streams).
      var tarIdx = -1
      var fileIdx = -1
      var lastUrl: String = null
      val (idBuf, maskBuf) = (new IntBuffer, new IntBuffer)
      val docs = it.flatMap { s =>
        if (s.url != lastUrl) { lastUrl = s.url; tarIdx += 1; fileIdx = -1 }
        parsePackSample(s, sampleType).flatMap { p =>
          fileIdx += 1
          // a sample with missing frame entries (truncated shard) would
          // otherwise emit a pack whose patch count no longer matches
          // its image count and kill the whole run at the strict E3
          // gate — skip it here like the counts-mismatch filter
          if (!p.valid || p.images.length != p.names.length)
            None
          else {
            val (ids, mask, text) = Tokenizers.tokenizeConversation(
              p.turns, tokenizer, idBuf, maskBuf)
            Some(TokDoc(s"$tarIdx-$fileIdx", p.names,
              p.images.map(resizeIfNeeded), ids, mask, text))
          }
        }
      }
      greedyPack(docs, maxTokens).map(toSampleGroup(_))
    }
    WdsWriter.write(packed, outDir,
      WdsWriter.WriterOptions(
        pattern = (p, i) => f"shard_$p%d-$i%06d.tar",
        explode = flattenForWrite))
  }
}
