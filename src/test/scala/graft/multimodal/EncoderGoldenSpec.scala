package graft.multimodal.h264

import org.scalatest.funsuite.AnyFunSuite

/** Byte-exact pins of the fixture encoder's MP4 output. The corpora
  * the bench and the oracles decode are these bytes, so a refactor of
  * [[Encoder]] must leave every digest unchanged. The inputs cover the
  * I_PCM cadence, multi-slice neighbour masking, the deblock flag, a
  * frame that is not MB-aligned, P frames at non-zero MVs and the
  * multi-reference DPB window. */
class EncoderGoldenSpec extends AnyFunSuite {

  /** textured planes that drift with `t`, so P frames carry luma and
    * chroma residual (both cbp chroma 1 and 2 occur at these QPs) */
  private def frame(w: Int, h: Int, t: Int): Encoder.Frame = {
    val rnd = new scala.util.Random(1000 + t)
    Encoder.Frame(w, h,
      Array.tabulate(w * h) { i =>
        val x = i % w + t; val y = i / w
        math.min(255, 16 + (x * 5 + y * 3) % 200 + rnd.nextInt(24))
      },
      Array.tabulate(w * h / 4) { i =>
        70 + ((i % (w / 2) + t) * 7) % 60 + rnd.nextInt(9)
      },
      Array.tabulate(w * h / 4) { i =>
        140 + ((i / (w / 2)) * 9 + t * 3) % 70 + rnd.nextInt(9)
      })
  }

  private def frames(w: Int, h: Int, n: Int): Seq[Encoder.Frame] =
    (0 until n).map(frame(w, h, _))

  private def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map(x => f"${x & 0xff}%02x").mkString

  private val mv: Int => (Int, Int) = i => ((i % 3) * 3 - 2, 2 - (i % 4))

  test("mp4: I_PCM cadence, slices, deblock and a non-MB-aligned frame") {
    val cases = Seq(
      // (w, h, qp, pcmEvery, mbPerSlice, deblock) -> digest
      ((48, 32, 20, 0, 0, true),
        "dd4235f188cb9d8cbd80d850d2ee133e882c15812091c25eaa1c4cb8e1afe3a2"),
      ((48, 32, 20, 3, 0, true),
        "3a498b31f677742d9245f275ba2df67bceff43a715633efdfed7922e64c6fd8d"),
      ((48, 32, 26, 0, 2, true),
        "a3219f471a91728c289a9313bd6f4e928d820a67ef25e04c94187f8d0b9d4e15"),
      ((48, 32, 26, 3, 2, false),
        "55da851efa116769f23f7c2dc421b744d9b8e9e123969b298acc5cad2c960112"),
      ((48, 32, 32, 0, 0, false),
        "2e2c46556df93125c1bb890782efb546f1527c86a291eeeb3550086492e548a9"),
      ((40, 24, 24, 0, 0, true),
        "784f0ac0b438850304819a532fffa7bc0886eecad906e635cd8d0e22934ab7c2"),
      ((40, 24, 24, 3, 2, true),
        "04df33b7bf4edbecdf7d41041505d84665a221190cdf241c56f8f6d499ebfdf3"))
    for (((w, h, qp, pcm, mbs, db), want) <- cases) {
      val got = sha256(Encoder.mp4(frames(w, h, 2), qp, fps = 10,
        pcmEvery = pcm, deblock = db, mbPerSlice = mbs))
      assert(got == want, s"w=$w h=$h qp=$qp pcm=$pcm mbs=$mbs db=$db")
    }
  }

  test("mp4Gop: P frames at non-zero MVs") {
    val cases = Seq(
      // (w, h, qp, gop, mbPerSlice, deblock) -> digest
      ((48, 32, 22, 4, 0, true),
        "af40bb4ed481507e0b8b70dbe3e3d13f54b90422a91f374304258399bd1bf810"),
      ((48, 32, 28, 3, 2, true),
        "46cd0ad1e8dbe73bbe090145a3dc7ecc419e305c1b1704ddc95aeb427d4849c6"),
      ((40, 24, 18, 5, 0, false),
        "515b67277e6adc7bf685c31dd87e503d5202acf3da69475d2c3d220db5935239"))
    for (((w, h, qp, gop, mbs, db), want) <- cases) {
      val got = sha256(Encoder.mp4Gop(frames(w, h, 6), qp, 10, gop,
        mvFor = mv, deblock = db, mbPerSlice = mbs))
      assert(got == want, s"w=$w h=$h qp=$qp gop=$gop mbs=$mbs db=$db")
    }
  }

  test("mp4GopMulti: numRefs 1 to 3") {
    val cases = Seq(
      // (numRefs, mbPerSlice) -> digest
      ((1, 0),
        "88351706c7f0388dd12b01130331256e4ad1f749b2789f05c7a9f48fba52d06c"),
      ((2, 0),
        "3dfc814c616188078bd558fcb406a8aca840e8f363214173a138748936409122"),
      ((3, 2),
        "a2a711f65ee8afc552d9f913b87c19fcfd60ed9315efc4044d136e65ba1f4a43"))
    for (((refs, mbs), want) <- cases) {
      val got = sha256(Encoder.mp4GopMulti(frames(48, 32, 7), 24, 10,
        gop = 6, numRefs = refs, mvFor = mv, mbPerSlice = mbs))
      assert(got == want, s"numRefs=$refs mbs=$mbs")
    }
  }

  test("mp4Gop is mp4GopMulti with one reference") {
    for ((w, h, mbs) <- Seq((48, 32, 0), (40, 24, 2))) {
      val fs = frames(w, h, 6)
      assert(Encoder.mp4Gop(fs, 24, 10, 4, mv, mbPerSlice = mbs) sameElements
        Encoder.mp4GopMulti(fs, 24, 10, 4, numRefs = 1, mv,
          mbPerSlice = mbs))
    }
  }
}
