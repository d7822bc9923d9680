package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.concurrent.{Executors, TimeUnit}

import graft.multimodal.h264.Encoder

/** Seeded workload inputs. Everything derives from [[doc]], an
  * sf0.1-shaped `documents` row (10–100 words over the fixture's 30-word
  * vocabulary, its language mix, 20 round-robin sources) regenerated
  * from the seed, so a run needs no fixture files. Every value is a pure
  * function of (seed, index): generation parallelizes without changing a
  * byte. */
object Corpus {

  val Vocab: Array[String] = Array("spark", "window", "merge", "table",
    "column", "vector", "stream", "value", "data", "small", "join",
    "filter", "big", "group", "hash", "customer", "sort", "order", "slow",
    "line", "part", "fast", "row", "the", "agg", "key", "query", "a",
    "scan", "batch")
  private val OtherLangs = Array("de", "es", "fr", "zh")

  /** `documents` row shape; also the curate stage's input schema. */
  final case class Doc(doc_id: Long, text: String, lang: String,
      source: String)

  /** One pack-stage input sample: an internvid JSONL caption whose clip
    * (video workload) lives at `<media>/<clipName>`. */
  final case class Caption(id: String, caption: String, lang: String) {
    def clipName: String = s"${id}_0_1.mp4"
    def jsonl: String = {
      val esc = caption.replace("\\", "\\\\").replace("\"", "\\\"")
      s"""{"YoutubeID":"$id","Start_timestamp":"0","End_timestamp":"1","Caption":"$esc"}"""
    }
  }

  /** Clip geometry of the video workload. Width/height are macroblock
    * multiples; frame count and GOP vary per clip. */
  final case class ClipSpec(width: Int, height: Int, minFrames: Int,
      maxFrames: Int, gops: Seq[Int], qp: Int = 26, fps: Int = 25)

  private def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(new SplittableRandom(seed * 0x9E3779B97F4A7C15L +
      stream * 0x632BE59BD9B4E019L + i).nextLong())

  private def words(r: SplittableRandom, n: Int): Array[String] =
    Array.fill(n)(Vocab(r.nextInt(Vocab.length)))

  private def lang(r: SplittableRandom): String = {
    val u = r.nextInt(10000)
    if (u < 4118) "en" else OtherLangs((u - 4118) * 4 / 5882)
  }

  /** The `i`-th sf0.1-shaped document of `seed`. */
  def doc(seed: Long, i: Long): Doc = {
    val r = rng(seed, 1, i)
    val text = words(r, 10 + r.nextInt(91)).mkString(" ")
    Doc(i, text, lang(r), s"src${i % 20}")
  }

  /** pipeline_text captions: about 8 joined documents each. */
  def longCaptions(seed: Long, n: Int): IndexedSeq[Caption] =
    IndexedSeq.tabulate(n) { i =>
      val ds = (0 until 8).map(k => doc(seed, 8L * i + k))
      Caption(f"t$i%06d", ds.map(_.text).mkString(" "), ds.head.lang)
    }

  /** pipeline_video captions: the first 3–12 words of one document. */
  def shortCaptions(seed: Long, n: Int): IndexedSeq[Caption] =
    IndexedSeq.tabulate(n) { i =>
      val d = doc(seed, i)
      val k = 3 + rng(seed, 2, i).nextInt(10)
      Caption(f"v$i%06d", d.text.split(' ').take(k).mkString(" "), d.lang)
    }

  /** Captions as a document table: the curate stage's input. */
  def captionDocs(caps: IndexedSeq[Caption]): IndexedSeq[Doc] =
    caps.zipWithIndex.map { case (c, i) =>
      Doc(i.toLong, c.caption, c.lang, s"src${i % 20}")
    }

  /** One seeded H.264 clip: a drifting sinusoid luma field with light
    * noise, per-clip frame count and GOP, encoded by the engine's own
    * encoder (I frames every `gop`, P frames between). */
  def clip(seed: Long, i: Long, spec: ClipSpec): Array[Byte] = {
    val r = rng(seed, 3, i)
    val n = spec.minFrames + r.nextInt(spec.maxFrames - spec.minFrames + 1)
    val gop = spec.gops(r.nextInt(spec.gops.length))
    val (w, h) = (spec.width, spec.height)
    val fx = 0.05 + r.nextDouble() * 0.2
    val fy = 0.05 + r.nextDouble() * 0.2
    val (vx, vy) = (r.nextInt(5) - 2, r.nextInt(5) - 2)
    val phase = r.nextDouble() * 6.28
    val frames = (0 until n).map { t =>
      val y = new Array[Int](w * h)
      var p = 0
      while (p < y.length) {
        val (px, py) = (p % w + vx * t, p / w + vy * t)
        y(p) = math.max(0, math.min(255, (128 + 80 * math.sin(px * fx +
          py * fy + phase)).toInt + r.nextInt(5) - 2))
        p += 1
      }
      val c = w * h / 4
      Encoder.Frame(w, h, y, Array.fill(c)(128 + (t % 7)),
        Array.fill(c)(128 - (t % 5)))
    }
    Encoder.mp4Gop(frames, spec.qp, spec.fps, gop)
  }

  /** Encode clips `0 until n` into `dir` on at most `threads` threads. */
  def writeClips(seed: Long, caps: IndexedSeq[Caption], spec: ClipSpec,
      dir: Path, threads: Int): Long = {
    Files.createDirectories(dir)
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val futures = caps.indices.map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            val bytes = clip(seed, i.toLong, spec)
            Files.write(dir.resolve(caps(i).clipName), bytes)
            bytes.length.toLong
          }
        })
      }
      futures.map(_.get()).sum
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(1, TimeUnit.MINUTES): Unit
    }
  }

  def writeJsonl(caps: IndexedSeq[Caption], file: Path): Unit = {
    Files.createDirectories(file.getParent)
    Files.write(file, caps.map(_.jsonl).mkString("", "\n", "\n")
      .getBytes(UTF_8)): Unit
  }
}
