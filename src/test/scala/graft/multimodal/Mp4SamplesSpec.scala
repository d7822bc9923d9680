package graft.multimodal

import graft.pack.FrameSource
import graft.wds.Codecs
import org.scalatest.funsuite.AnyFunSuite

/** Real-pixel decode through the MP4 sample table: containers built by
  * [[Mp4Samples.encodeFrames]] (and the committed fixture) round-trip
  * frame-exact through parse → sample slice → ImageIO decode. */
class Mp4SamplesSpec extends AnyFunSuite {

  private def pngFrame(v: Int): Array[Byte] =
    Codecs.encodeImage(Codecs.ImageData(2, 2, 3, "RGB",
      Array.tabulate(2 * 2 * 3)(i => ((v * 17 + i) % 256).toByte)), "png")

  test("PNG-codec mp4 round-trips pixels losslessly") {
    val frames = (0 until 7).map(pngFrame)
    val mp4 = Mp4Samples.encodeFrames(frames, "png ", fps = 4,
      width = 2, height = 2, syncEvery = 3)
    val t = Mp4Samples.parse(mp4).get
    assert(t.codec == "png")
    assert(t.frameCount == 7)
    assert(t.fps == 4.0)
    assert((0 until 7).map(t.isSync) ==
      Seq(true, false, false, true, false, false, true))
    (0 until 7).foreach { i =>
      val got = t.sample(mp4, i)
      assert(got.sameElements(frames(i)), s"frame $i bytes differ")
      // real pixel decode: lossless PNG → exact bytes back
      val img = Codecs.decodeImage(got)
      assert(img.data.toSeq ==
        Array.tabulate(2 * 2 * 3)(j => ((i * 17 + j) % 256).toByte).toSeq)
    }
  }

  test("FrameSource.Mp4Frames decodes real pixels + real sync types") {
    val frames = (0 until 10).map(pngFrame)
    val mp4 = Mp4Samples.encodeFrames(frames, "png ", fps = 25,
      width = 2, height = 2, syncEvery = 4)
    assert(FrameSource.Mp4Frames.frameCount(mp4) == 10)
    assert(FrameSource.Mp4Frames.fps(mp4) == 25.0)
    assert(FrameSource.Mp4Frames.frameTypes(mp4).mkString ==
      "IPPPIPPPIP")
    val img = Codecs.decodeImage(FrameSource.Mp4Frames.frame(mp4, 6))
    assert(img.data.toSeq ==
      Array.tabulate(2 * 2 * 3)(j => ((6 * 17 + j) % 256).toByte).toSeq)
  }

  test("committed tiny_mjpeg.mp4 fixture decodes real JPEG pixels") {
    val in = getClass.getResourceAsStream("/tiny_mjpeg.mp4")
    assert(in != null, "fixture missing — run Test/runMain Mp4FixtureGen")
    val mp4 = in.readAllBytes()
    in.close()
    val t = Mp4Samples.parse(mp4).get
    assert(t.codec == "jpeg")
    assert(t.frameCount == 12)
    assert(t.fps == 5.0)
    // stss every 5th: frames 0,5,10 are keyframes
    assert(FrameSource.Mp4Frames.frameTypes(mp4).mkString ==
      "IPPPPIPPPPIP")
    // the movie-level probe reads the same container
    val meta = Mp4Probe.probe(mp4)
    assert(meta.width == 8 && meta.height == 8)
    assert(math.abs(meta.durationSec - 12.0 / 5) < 1e-9)
    (0 until 12).foreach { f =>
      val img = Codecs.decodeImage(FrameSource.Mp4Frames.frame(mp4, f))
      assert(img.height == 8 && img.width == 8 && img.nChannels == 3)
      val (r, g, b) = Mp4FixtureGen.frameColor(f)
      // solid-color 8×8 JPEG decodes near-exact (DC-only block)
      def mean(ch: Int): Double =
        (0 until 64).map(p => img.data(p * 3 + ch) & 0xff).sum / 64.0
      assert(math.abs(mean(0) - r) < 16, s"frame $f R: ${mean(0)} vs $r")
      assert(math.abs(mean(1) - g) < 16, s"frame $f G: ${mean(1)} vs $g")
      assert(math.abs(mean(2) - b) < 16, s"frame $f B: ${mean(2)} vs $b")
    }
  }

  test("kf pack sampler runs on real MP4 frames end-to-end") {
    import graft.pack.PackStage
    val frames = (0 until 20).map(pngFrame)
    val mp4 = Mp4Samples.encodeFrames(frames, "png ", fps = 10,
      width = 2, height = 2, syncEvery = 5)
    val media: String => Array[Byte] = _ => mp4
    val s = PackStage.buildSample(1, Seq("v.mp4"), "cap",
      PackStage.PackOptions(samplerType = PackStage.SamplerType.Kf,
        frames = FrameSource.Mp4Frames), media)
    // real stss: I at 0,5,10,15 (+ last frame 19) = 5; P fills = 15
    assert(s.entries.size == 21) // json + 20 frames
    val j = new String(s.entries("json"), "UTF-8")
    assert("<Iimage>#".r.findAllIn(j).size == 5)
    assert("<Pimage>#".r.findAllIn(j).size == 15)
    // the packed I-frame payloads ARE the container's real PNG samples
    assert(s.entries("0.jpg").sameElements(frames(0)))
  }

  test("metadata-only mp4 (no sample table) parses to None") {
    val mp4 = Mp4Probe.encodeMinimal(1000, 5000L, 320, 240)
    assert(Mp4Samples.parse(mp4).isEmpty)
  }

  test("round-trip law: random frame sets survive encode∘parse exactly") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val frameGen = Gen.chooseNum(1, 200)
      .flatMap(n => Gen.listOfN(n, Gen.chooseNum(1, 4096)))
    val prop = Prop.forAll(
      frameGen, Gen.chooseNum(1, 60), Gen.chooseNum(1, 10)) {
      (sizes, fps, syncEvery) =>
        // frames of arbitrary sizes with position-dependent content
        val frames = sizes.zipWithIndex.map { case (sz, i) =>
          Array.tabulate[Byte](sz)(j => ((i * 31 + j) % 251).toByte)
        }
        val mp4 = Mp4Samples.encodeFrames(frames, "jpeg", fps,
          width = 16, height = 16, syncEvery = syncEvery)
        val t = Mp4Samples.parse(mp4).get
        t.frameCount == frames.length &&
          math.abs(t.fps - fps) < 1e-9 &&
          frames.indices.forall { i =>
            t.sample(mp4, i).sameElements(frames(i)) &&
              t.isSync(i) == (syncEvery <= 1 || i % syncEvery == 0)
          }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("corrupt fixed-size stsz cannot demand a huge allocation") {
    val frames = (0 until 3).map(pngFrame)
    val mp4 = Mp4Samples.encodeFrames(frames, "png ", fps = 10,
      width = 2, height = 2)
    // patch the stsz box: fixed = 0x7fffffff, n = 0x7fffffff — a crafted
    // header claiming 2^31 samples of 2 GiB each
    val idx = {
      var i = -1
      (0 until mp4.length - 4).foreach { p =>
        if (i < 0 && mp4(p) == 's' && mp4(p + 1) == 't' &&
          mp4(p + 2) == 's' && mp4(p + 3) == 'z') i = p
      }
      i
    }
    assert(idx > 0)
    val bad = mp4.clone()
    // fields after the fourcc: verflags(4) fixed(4) n(4)
    java.nio.ByteBuffer.wrap(bad, idx + 4, 12)
      .putInt(0).putInt(0x7fffffff).putInt(0x7fffffff)
    // must complete without attempting the allocation; the track is
    // rejected (no consistent sample table), not OOM'd
    assert(Mp4Samples.parse(bad).isEmpty)
  }

  test("negative/overflowing chunk offsets raise the corrupt signal") {
    val bytes = Array.fill[Byte](64)(1)
    val neg = Mp4Samples.Track("jpeg", 1000, 1000,
      Array(8), Array(-5L), Array.empty)
    intercept[IllegalArgumentException](neg.sample(bytes, 0))
    val huge = Mp4Samples.Track("jpeg", 1000, 1000,
      Array(8), Array(Long.MaxValue - 3), Array.empty)
    intercept[IllegalArgumentException](huge.sample(bytes, 0))
  }

  test("parser survives truncation at every boundary (corrupt shards)") {
    val frames = (0 until 5).map(pngFrame)
    val mp4 = Mp4Samples.encodeFrames(frames, "png ", fps = 10,
      width = 2, height = 2, syncEvery = 2)
    (0 until mp4.length).foreach { n =>
      // a truncated container must parse to None or a smaller-but-
      // consistent table — never throw, never claim out-of-range samples
      Mp4Samples.parse(mp4.take(n)).foreach { t =>
        assert(t.frameCount >= 0)
        // offsets beyond the truncated tail are caught at sample()
        (0 until t.frameCount).foreach { i =>
          try { t.sample(mp4.take(n), i); () }
          catch { case _: IllegalArgumentException => () }
        }
      }
    }
  }

  test("H.264 containers are REPORTED as unsupported, never silently " +
    "synthesized or handed out as raw NAL bytes") {
    // avc1 stsd fourcc over opaque payloads — the shape every real
    // production corpus has; pre-round-5 Mp4Frames.frame returned the
    // raw mdat slice here, which downstream would have packed as if it
    // were an image
    val nals = (0 until 5).map(f => Array.fill(80 + f)(0x41.toByte))
    val mp4 = Mp4Samples.encodeFrames(nals, "avc1", fps = 24,
      width = 16, height = 16, syncEvery = 2)
    // container metadata stays readable (the 100 TB audit path)…
    assert(FrameSource.Mp4Frames.frameCount(mp4) == 5)
    assert(FrameSource.Mp4Frames.frameTypes(mp4) ==
      IndexedSeq('I', 'P', 'I', 'P', 'I'))
    // …but frame DECODE throws the typed signal naming the codec —
    // since round 6 the decoder handles baseline avc1, so a container
    // WITHOUT the avcC decoder config triages as unsupported with the
    // reason in the signal
    val ex = intercept[FrameSource.UnsupportedCodecException] {
      FrameSource.Mp4Frames.frame(mp4, 0)
    }
    assert(ex.codec == "avc1 (no avcC config)")
    // still-image codecs keep decoding
    val png = Mp4Samples.encodeFrames((0 until 3).map(pngFrame), "png ",
      fps = 4, width = 2, height = 2)
    assert(FrameSource.Mp4Frames.frame(png, 1).sameElements(pngFrame(1)))
  }

  test("ctts composition offsets reorder display against decode order") {
    // decode order [f0, f2, f1] presented as display [f0, f1, f2]:
    // DT = [0, 1000, 2000], offsets [+1000, +2000, 0] -> CT = [1000,
    // 3000, 2000] (the classic one-frame B delay pattern)
    val frames = Seq(pngFrame(0), pngFrame(2), pngFrame(1))
    val mp4 = Mp4Samples.encodeFrames(frames, "png ", fps = 4,
      width = 2, height = 2, syncEvery = 3,
      compositionOffsets = Seq(1000L, 2000L, 0L))
    val t = Mp4Samples.parse(mp4).get
    assert(t.cts.toSeq == Seq(1000L, 3000L, 2000L))
    assert(t.displayToDecode.toSeq == Seq(0, 2, 1))
    assert(t.decodeToDisplay.toSeq == Seq(0, 2, 1))
    // the public FrameSource contract is display order
    assert(FrameSource.Mp4Frames.frame(mp4, 1).sameElements(pngFrame(1)))
    assert(FrameSource.Mp4Frames.frame(mp4, 2).sameElements(pngFrame(2)))
    // frameTypes reports display order too: sync samples are decode
    // indices 0 (display 0) here
    assert(FrameSource.Mp4Frames.frameTypes(mp4) ==
      IndexedSeq('I', 'P', 'P'))
    // negative (v1) offsets round-trip
    val mp4v1 = Mp4Samples.encodeFrames(frames, "png ", fps = 4,
      width = 2, height = 2, compositionOffsets = Seq(0L, 1000L, -1000L))
    val t1 = Mp4Samples.parse(mp4v1).get
    assert(t1.cts.toSeq == Seq(0L, 2000L, 1000L))
    assert(t1.displayToDecode.toSeq == Seq(0, 2, 1))
    // a ctts-free container maps identity
    val plain = Mp4Samples.parse(Mp4Samples.encodeFrames(frames, "png ",
      fps = 4, width = 2, height = 2)).get
    assert(plain.cts.isEmpty && plain.displayToDecode.toSeq == Seq(0, 1, 2))
  }

  test("fragmented MP4 (moof/trun) resolves the same samples as stbl") {
    val frames = (0 until 7).map(pngFrame)
    val frag = Mp4Samples.encodeFramesFragmented(frames, "png ", fps = 4,
      width = 2, height = 2, syncEvery = 3, samplesPerFragment = 3)
    val t = Mp4Samples.parse(frag).get
    assert(t.codec == "png" && t.frameCount == 7)
    assert(t.fps == 4.0) // duration from summed trun/trex durations
    // sync flags come from per-sample trun sample_flags
    assert((0 until 7).map(t.isSync) ==
      Seq(true, false, false, true, false, false, true))
    for (i <- 0 until 7)
      assert(t.sample(frag, i).sameElements(frames(i)), s"i=$i")
    // the public FrameSource path decodes fragmented containers too
    assert(FrameSource.Mp4Frames.frameCount(frag) == 7)
    assert(FrameSource.Mp4Frames.frame(frag, 5).sameElements(pngFrame(5)))
    assert(FrameSource.Mp4Frames.frameTypes(frag) ==
      IndexedSeq('I', 'P', 'P', 'I', 'P', 'P', 'I'))
  }

  test("fragmented MP4 carries trun composition offsets (reorder)") {
    // decode order [f0, f2, f1] displayed [f0, f1, f2] across a
    // fragment boundary (2 samples per fragment)
    val frames = Seq(pngFrame(0), pngFrame(2), pngFrame(1))
    val frag = Mp4Samples.encodeFramesFragmented(frames, "png ", fps = 4,
      width = 2, height = 2, syncEvery = 3,
      compositionOffsets = Seq(0L, 1000L, -1000L),
      samplesPerFragment = 2)
    val t = Mp4Samples.parse(frag).get
    assert(t.cts.toSeq == Seq(0L, 2000L, 1000L))
    assert(t.displayToDecode.toSeq == Seq(0, 2, 1))
    assert(FrameSource.Mp4Frames.frame(frag, 1).sameElements(pngFrame(1)))
    assert(FrameSource.Mp4Frames.frame(frag, 2).sameElements(pngFrame(2)))
  }

  test("fragmented containers survive truncation and bit flips") {
    val frames = (0 until 7).map(pngFrame)
    val base = Mp4Samples.encodeFramesFragmented(frames, "png ", fps = 4,
      width = 2, height = 2, syncEvery = 3, samplesPerFragment = 3)
    // truncation anywhere: parse returns None/partial or the sample
    // slice raises the typed corrupt signal — never an unchecked crash
    for (cut <- 0 until base.length by 7) {
      val t = Mp4Samples.parse(java.util.Arrays.copyOfRange(base, 0, cut))
      t.foreach { tr =>
        for (i <- 0 until tr.frameCount) {
          try { tr.sample(base, i); () }
          catch { case _: IllegalArgumentException => () }
        }
      }
    }
    val rnd = new scala.util.Random(5)
    var i = 0
    while (i < 500) {
      val m = base.clone()
      val pos = rnd.nextInt(m.length)
      m(pos) = (m(pos) ^ (1 << rnd.nextInt(8))).toByte
      try {
        Mp4Samples.parse(m).foreach { t =>
          for (j <- 0 until math.min(t.frameCount, 64)) {
            try { t.sample(m, j); () }
            catch { case _: IllegalArgumentException => () }
          }
          t.displayToDecode // mapping must not crash either
          ()
        }
      } catch { case _: IllegalArgumentException => () }
      i += 1
    }
  }

  test("fragmented avc1 decodes identically to the stbl layout") {
    import graft.multimodal.h264.{H264FixtureSums, H264Fixtures, Decoder}
    val d = 11L
    val n = 9
    val plain = H264Fixtures.videoGop(d, n)
    val t0 = Mp4Samples.parse(plain).get
    val samples = (0 until n).map(t0.sample(plain, _))
    val frag = Mp4Samples.encodeFramesFragmented(samples, "avc1",
      fps = 10, width = 16, height = 16, syncEvery = 4,
      sampleEntryExtension = {
        // rebuild the avcC box from the parsed payload
        val p = t0.avcc.get
        val b = java.nio.ByteBuffer.allocate(8 + p.length)
        b.putInt(8 + p.length)
        b.put("avcC".getBytes("US-ASCII"))
        b.put(p)
        b.array()
      }, samplesPerFragment = 4)
    val t1 = Mp4Samples.parse(frag).get
    assert(t1.avcc.isDefined && t1.frameCount == n)
    assert((0 until n).forall(i => t1.isSync(i) == t0.isSync(i)))
    // every frame through the public seam matches the stbl container
    for (f <- Seq(8, 2, 0, 6, 3)) {
      val a = FrameSource.Mp4Frames.frame(plain, f)
      val b = FrameSource.Mp4Frames.frame(frag, f)
      assert(a.sameElements(b), s"f=$f")
    }
    // and matches the closed form
    val c = Decoder.parseAvcc(t1.avcc.get)
    var ref: Decoder.Yuv = null
    for (f <- 0 until n) {
      val yuv = Decoder.decode(t1.sample(frag, f), c, ref)
      ref = yuv
      val got = (yuv.y.map(_.toLong).sum, yuv.cb.map(_.toLong).sum,
        yuv.cr.map(_.toLong).sum)
      assert(got == H264FixtureSums.expectedSumsGop(d, f), s"f=$f")
    }
  }
}
