package perfbench

import graft.pack.FrameSource
import graft.tokenize.SubwordModel
import graft.wds.Codecs
import org.apache.spark.SparkContext
import org.apache.spark.util.LongAccumulator

/** Callback counters the traced run threads through the stage calls.
  * Spark accumulators, so updates made inside tasks reach the driver. */
final class Probes(sc: SparkContext) extends Serializable {
  val mediaNs: LongAccumulator = sc.longAccumulator("wds.media_read_ns")
  val mediaBytes: LongAccumulator = sc.longAccumulator("wds.media_read_bytes")
  val decodeNs: LongAccumulator = sc.longAccumulator("multimodal.decode_ns")
  val frames: LongAccumulator = sc.longAccumulator("multimodal.frames")
  val encodeNs: LongAccumulator = sc.longAccumulator("tokenize.encode_ns")
  val pieces: LongAccumulator = sc.longAccumulator("tokenize.pieces")

  def reset(): Unit =
    Seq(mediaNs, mediaBytes, decodeNs, frames, encodeNs, pieces)
      .foreach(_.reset())

  def media(inner: String => Array[Byte]): String => Array[Byte] =
    new TimedMedia(inner, mediaNs, mediaBytes)
  def frameSource(inner: FrameSource): FrameSource =
    new TimedFrameSource(inner, decodeNs, frames)
  def subwordModel(inner: SubwordModel): SubwordModel =
    new TimedSubwordModel(inner, encodeNs, pieces)
}

private object Timed {
  @inline def apply[T](ns: LongAccumulator)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally ns.add(System.nanoTime() - t0)
  }
}

/** Times and sizes every media read (`mediaFor`). */
final class TimedMedia(inner: String => Array[Byte], ns: LongAccumulator,
    bytes: LongAccumulator) extends (String => Array[Byte]) with Serializable {
  def apply(path: String): Array[Byte] = {
    val b = Timed(ns)(inner(path))
    bytes.add(b.length.toLong)
    b
  }
}

/** Times every [[FrameSource]] call and counts decoded frames. It
  * overrides EVERY method, the trait's defaults included: a decorator
  * that inherited `frameTypes`/`frameImage` would silently swap the
  * wrapped decoder's real picture types for the synthetic 1-in-10
  * I-frame cadence. */
final class TimedFrameSource(val inner: FrameSource, ns: LongAccumulator,
    frames: LongAccumulator) extends FrameSource {
  def frame(video: Array[Byte], index: Int): Array[Byte] = {
    frames.add(1)
    Timed(ns)(inner.frame(video, index))
  }
  override def frameImage(video: Array[Byte], index: Int): Codecs.ImageData = {
    frames.add(1)
    Timed(ns)(inner.frameImage(video, index))
  }
  def frameCount(video: Array[Byte]): Int = Timed(ns)(inner.frameCount(video))
  def fps(video: Array[Byte]): Double = Timed(ns)(inner.fps(video))
  override def frameTypes(video: Array[Byte]): IndexedSeq[Char] =
    Timed(ns)(inner.frameTypes(video))
}

/** Times subword encoding and counts the pieces it emits. */
final class TimedSubwordModel(val inner: SubwordModel, ns: LongAccumulator,
    pieces: LongAccumulator) extends SubwordModel {
  def encode(text: String): IndexedSeq[Int] = {
    val ids = Timed(ns)(inner.encode(text))
    pieces.add(ids.length.toLong)
    ids
  }
}
