package graft.multimodal

import graft.wds.Codecs
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal columns: image/audio/video as opaque `BINARY` columns with
  * typed metadata structs, plus the decode / feature-extract / resize /
  * frame-sample operators a training-data pipeline runs over them.
  *
  * The Spark-side plumbing — schemas, batch iteration via mapPartitions,
  * partition sizing — is real and tested; the codec boundary is the
  * pluggable seam: images use the JVM's ImageIO (real), audio/video
  * decoders (no JVM parity for decord/ffmpeg in this container) are
  * clearly-marked deterministic stubs behind the same interface, exactly
  * where a JavaCV binding would plug in (reference:
  * `pack/dataset.py:10-122`, `pack/samplers.py:53-58`).
  *
  * Scale notes: media bytes never pass through a shuffle — every operator
  * here is a narrow mapPartitions; metadata-only plans prune the binary
  * column away at the parquet scan (test-asserted in MediaColumnsSpec).
  */
object MediaColumns {

  final case class ImageFeatures(
      media_id: Long,
      height: Int,
      width: Int,
      nChannels: Int,
      mode: String,
      mean_luma: Double)

  /** Decode + feature-extract images: batched per partition, binary in /
    * typed struct out. Real ImageIO decode. */
  def imageFeatures(df: DataFrame): DataFrame = {
    implicit val enc = Encoders.product[ImageFeatures]
    df.select(col("media_id"), col("content"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val img = Codecs.decodeImage(bytes)
          var sum = 0L
          var i = 0
          while (i < img.data.length) { sum += img.data(i) & 0xff; i += 1 }
          ImageFeatures(id, img.height, img.width, img.nChannels, img.mode,
            sum.toDouble / img.data.length)
        }
      }.toDF()
  }

  /** Frame-sample a video column: selection math is the real pack-stage
    * logic ([[graft.pack.Frames.segmentCenters]]); the byte decode is the
    * FrameSource seam (synthetic here — ffmpeg/JavaCV in production).
    * One input row fans out to n frame rows (the reference's only UDTF
    * shape, `pack/samplers.py:102-157`). */
  def sampleFrames(
      df: DataFrame,
      numSegments: Int,
      frames: graft.pack.FrameSource = graft.pack.FrameSource.Synthetic)
      : DataFrame = {
    implicit val enc = Encoders.tuple(
      Encoders.scalaLong, Encoders.scalaInt, Encoders.scalaInt, Encoders.BINARY)
    df.select(col("media_id"), col("content"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .mapPartitions { it =>
        it.flatMap { case (id, video) =>
          val total = frames.frameCount(video)
          val fps = frames.fps(video)
          val idxs = graft.pack.Frames.segmentCenters(
            numSegments, fps, total - 1, bound = Some((0.0, total / fps)))
          idxs.zipWithIndex.map { case (fi, i) =>
            (id, i, fi, frames.frame(video, fi))
          }
        }
      }.toDF("media_id", "frame_no", "frame_index", "frame")
  }

  final case class AudioFeatures(
      media_id: Long,
      n_samples: Int, // frames per channel
      channels: Int,
      sample_rate: Int,
      duration_sec: Double,
      rms: Double,
      peak: Int)

  /** sniffing audio decode: RIFF/WAVE via [[WavCodec]], fLaC via
    * [[FlacCodec]] (normalized to 16-bit PCM by bit-shift — exact for
    * 16-bit sources, standard scaling otherwise). Every audio
    * operator below is therefore container-agnostic; remaining
    * compressed codecs (mp3/aac — Huffman value tables) stay at the
    * ffmpeg seam. */
  private[graft] def decodeAudio(bytes: Array[Byte]): WavCodec.Wav =
    if (bytes.length >= 4 && bytes(0) == 'f' && bytes(1) == 'L' &&
      bytes(2) == 'a' && bytes(3) == 'C') {
      val f = FlacCodec.decode(bytes)
      val shift = f.bitsPerSample - 16
      WavCodec.Wav(f.sampleRate, f.channels, f.samples.map { v =>
        val x = if (shift >= 0) v >> shift else v << -shift
        math.max(Short.MinValue.toInt, math.min(Short.MaxValue.toInt, x))
          .toShort
      })
    } else WavCodec.decode(bytes)

  /** Audio feature extraction over a WAV/PCM OR FLAC binary column —
    * real decode via [[WavCodec]]/[[FlacCodec]] (pure JVM). Narrow
    * mapPartitions, audio bytes never shuffle. Compressed codecs
    * (mp3/aac) stay at the ffmpeg seam. */
  def audioFeatures(df: DataFrame): DataFrame = {
    implicit val enc = Encoders.product[AudioFeatures]
    df.select(col("media_id"), col("content"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val w = decodeAudio(bytes)
          AudioFeatures(id, w.frames, w.channels, w.sampleRate,
            w.durationSec, WavCodec.rms(w), WavCodec.peak(w))
        }
      }.toDF()
  }

  final case class SceneCuts(
      media_id: Long,
      n_frames: Int,
      n_cuts: Int,
      sad_total: Long, // sum of absolute per-pixel deltas across all pairs
      first_cut: Int) // frame index of the first cut, -1 if none

  /** Shot-boundary (scene-cut) detection over a video binary column:
    * decode consecutive frames, compute the sum of absolute per-pixel
    * differences (SAD) for each adjacent pair, and flag a cut where the
    * pair's SAD exceeds `threshold`. The classic content-based shot
    * detector (reference pipeline's keyframe pass,
    * `pack/tools.py:101-140`, selects on codec I-frames; SAD detects
    * CONTENT boundaries, which is what curation wants when re-encoding
    * has destroyed GOP structure).
    *
    * Scale: one video = one task's loop iteration; frames decode and
    * are discarded inside the partition — nothing but the per-video
    * summary row leaves the executor. */
  def sceneCuts(
      df: DataFrame,
      frames: graft.pack.FrameSource = graft.pack.FrameSource.Synthetic,
      threshold: Long = 30): DataFrame = {
    implicit val enc = Encoders.product[SceneCuts]
    df.select(col("media_id"), col("content"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .mapPartitions { it =>
        it.map { case (id, video) =>
          val n = frames.frameCount(video)
          var prev: Array[Byte] = null
          var cuts = 0
          var sadTotal = 0L
          var firstCut = -1
          var f = 0
          while (f < n) {
            val cur = frames.frameImage(video, f).data
            if (prev != null) {
              var sad = 0L
              var i = 0
              val len = math.min(prev.length, cur.length)
              while (i < len) {
                sad += math.abs((cur(i) & 0xff) - (prev(i) & 0xff)); i += 1
              }
              // a geometry change IS a shot boundary: a common-prefix
              // comparison would silently under-score it (the prefixes
              // aren't even position-aligned when strides differ), so
              // missing bytes count at full difference
              sad += 255L * math.abs(prev.length - cur.length)
              sadTotal += sad
              if (sad > threshold) {
                cuts += 1
                if (firstCut < 0) firstCut = f
              }
            }
            prev = cur
            f += 1
          }
          SceneCuts(id, n, cuts, sadTotal, firstCut)
        }
      }.toDF()
  }

  /** ViT-style patch extraction: split each image into non-overlapping
    * p×p patches (row-major, floor count — partial edge patches are
    * dropped, the ViT convention) and fan out one row per patch with the
    * interleaved patch bytes. The training-side "images → token grid"
    * operator. One input row → (h/p)·(w/p) output rows; patch bytes are
    * produced and consumed inside the partition unless the caller
    * shuffles them. */
  def patchify(df: DataFrame, p: Int): DataFrame = {
    require(p > 0, s"patch $p")
    implicit val enc = Encoders.tuple(Encoders.scalaLong,
      Encoders.scalaInt, Encoders.scalaInt, Encoders.BINARY)
    df.select(col("media_id"), col("content"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val img = Codecs.decodeImage(bytes)
          val ch = img.nChannels
          val (rows, cols) = (img.height / p, img.width / p)
          for (py <- 0 until rows; px <- 0 until cols) yield {
            val patch = new Array[Byte](p * p * ch)
            var dy = 0
            while (dy < p) {
              System.arraycopy(img.data,
                ((py * p + dy) * img.width + px * p) * ch,
                patch, dy * p * ch, p * ch)
              dy += 1
            }
            (id, py, px, patch)
          }
        }
      }.toDF("media_id", "patch_row", "patch_col", "patch")
  }

  final case class SilenceSegments(
      media_id: Long,
      n_samples: Int,
      n_silent: Int, // samples with |s| <= threshold
      n_segments: Int, // silent runs of length >= minRun
      first_start: Int) // start sample of the first such run, -1 if none

  /** Energy-based silence segmentation (VAD-style) over a WAV binary
    * column: a sample is silent when |s| <= threshold; a segment is a
    * maximal silent run of at least `minRun` samples. The audio-side
    * trim/split primitive (speech corpora drop leading/trailing
    * silence and split long clips at pauses). Mono analysis uses
    * channel 0. */
  def silenceSegments(
      df: DataFrame, threshold: Int, minRun: Int): DataFrame = {
    require(minRun > 0, s"minRun $minRun")
    implicit val enc = Encoders.product[SilenceSegments]
    df.select(col("media_id"), col("content"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val w = decodeAudio(bytes)
          val step = w.channels
          val n = w.frames
          var silent = 0
          var segs = 0
          var firstStart = -1
          var run = 0
          var i = 0
          while (i < n) {
            val s = w.samples(i * step)
            if (math.abs(s.toInt) <= threshold) {
              silent += 1
              run += 1
              if (run == minRun) {
                segs += 1
                if (firstStart < 0) firstStart = i - minRun + 1
              }
            } else run = 0
            i += 1
          }
          SilenceSegments(id, n, silent, segs, firstStart)
        }
      }.toDF()
  }

  final case class PitchTrack(
      media_id: Long,
      n_samples: Int,
      best_lag: Int,
      r_zero: Long,
      r_best: Long)

  /** Pitch estimation via integer autocorrelation over a PCM channel —
    * the classic voiced-pitch detector: R(L) = Σ x[i]·x[i+L] maximized
    * over a lag band (ties → smallest lag), with R(0) as the energy
    * normalizer. All-integer arithmetic on the raw 16-bit samples, so
    * the result is exactly reproducible by an oracle replaying the
    * same sums — no FFT float drift. Narrow mapPartitions: audio bytes
    * die in-task, one summary row per clip leaves. */
  def pitchTrack(df: DataFrame, minLag: Int, maxLag: Int): DataFrame = {
    require(0 < minLag && minLag <= maxLag, s"lag band $minLag..$maxLag")
    implicit val enc = Encoders.product[PitchTrack]
    df.select(col("media_id"), col("content"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val w = decodeAudio(bytes)
          val step = w.channels
          val n = w.frames
          var r0 = 0L
          var i = 0
          while (i < n) {
            val v = w.samples(i * step).toLong
            r0 += v * v
            i += 1
          }
          var bestLag = -1
          var rBest = Long.MinValue
          var lag = minLag
          while (lag <= maxLag) {
            var r = 0L
            var j = 0
            while (j + lag < n) {
              r += w.samples(j * step).toLong * w.samples((j + lag) * step)
              j += 1
            }
            if (r > rBest) { rBest = r; bestLag = lag }
            lag += 1
          }
          PitchTrack(id, n, bestLag, r0, rBest)
        }
      }.toDF()
  }

  final case class GopStats(
      media_id: Long,
      n_samples: Int,
      n_key: Int,
      total_bytes: Long,
      max_bytes: Int,
      gop_raw: Double) // n_samples / n_key; round at presentation

  /** GOP/bitrate container audit over an MP4 binary column: keyframe
    * cadence and sample-size stats from the REAL stbl walk
    * ([[Mp4Samples.parse]]: stsz sizes + stss sync table) with NO
    * frame decode — container metadata is KBs per video, so this is
    * the shape a corpus-wide audit runs at 100 TB (the mdat payload
    * never leaves the scan). */
  def gopStats(df: DataFrame): DataFrame = {
    implicit val enc = Encoders.product[GopStats]
    df.select(col("media_id"), col("content"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .mapPartitions { it =>
        it.map { case (id, mp4) =>
          val t = Mp4Samples.parse(mp4).getOrElse(
            throw new IllegalArgumentException(s"no sample table in $id"))
          val n = t.frameCount
          val nKey = (0 until n).count(t.isSync)
          var total = 0L
          var maxB = 0
          var i = 0
          while (i < n) {
            total += t.sizes(i)
            if (t.sizes(i) > maxB) maxB = t.sizes(i)
            i += 1
          }
          GopStats(id, n, nKey, total, maxB, n.toDouble / nKey)
        }
      }.toDF()
  }
}
