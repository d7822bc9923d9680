package graft.queries

import graft.{QueryDef, QueryRegistry, Tables}
import graft.multimodal.{FlacCodec, MediaColumns, MediaDedup, Mp4Samples, Subtitles, WavCodec}
import graft.wds.Codecs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Video-native analytics tier (mm08–mm12): shot-boundary detection,
  * ViT patch extraction, energy-based silence segmentation, subtitle
  * parse + time-range alignment, GOP/bitrate container audit. Fixture media is synthesized per doc
  * (pure functions of doc_id, lossless codecs) so every output value is
  * replayable by the DuckDB oracle — content-checked end-to-end like
  * mm05/mm06/mm07, not geometry-only.
  *
  * Reference anchors: shot/keyframe pass `pack/tools.py:101-140`, frame
  * fan-out `pack/samplers.py:102-157`, caption-clip pairing
  * `pack/pack.py` (video_text_pair / video_sft).
  */
/** mm22 output row (top-level for the TypeTag-based product encoder) */
final case class FlacRow(media_id: Long, n_frames: Int,
  l_sum: Long, r_sum: Long)

object MediaQueries extends QueryRegistry {

  /** mm08: scene-cut detection. Frames are 2×2 RGB PNGs whose pixels
    * are constant within a scene (length L) and jump at boundaries —
    * SAD is 0 inside scenes and ≥ 12·|Δ| at cuts, so threshold 30
    * detects exactly the scene boundaries and the oracle replays the
    * full SAD arithmetic, not just the expected cut count. */
  private def sceneCuts(s: SparkSession, dir: String): DataFrame = {
    val mkMp4 = udf { (id: Long) =>
      val n = (6 + id % 5).toInt
      val L = (2 + id % 3).toInt
      val frames = (0 until n).map { f =>
        val px = Array.tabulate(12)(i =>
          ((id * 31 + (f / L) * 53 + i * 7) % 251).toByte)
        Codecs.encodeImage(Codecs.ImageData(2, 2, 3, "RGB", px), "png")
      }
      Mp4Samples.encodeFrames(frames, codec = "png ", fps = 5,
        width = 2, height = 2, syncEvery = 2)
    }
    val media = Tables(s, dir).documents
      .select(col("doc_id").as("media_id"), mkMp4(col("doc_id")).as("content"))
    MediaColumns.sceneCuts(media, graft.pack.FrameSource.Mp4Frames,
      threshold = 30)
      .orderBy(col("media_id"))
  }

  private val sceneCutsSql =
    """WITH geom AS (
      |  SELECT doc_id, (6 + doc_id % 5)::BIGINT AS n,
      |    (2 + doc_id % 3)::BIGINT AS L
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id, n, L,
      |    unnest(generate_series(1, (n - 1)::INT)) AS f
      |  FROM geom),
      |sads AS (
      |  SELECT doc_id, n, f,
      |    list_sum(list_transform(generate_series(0, 11), i ->
      |      abs((doc_id*31 + (f // L)*53 + i*7) % 251
      |        - (doc_id*31 + ((f-1) // L)*53 + i*7) % 251)))::BIGINT AS sad
      |  FROM pos)
      |SELECT doc_id AS media_id, max(n)::INT AS n_frames,
      |  count(*) FILTER (WHERE sad > 30)::INT AS n_cuts,
      |  sum(sad)::BIGINT AS sad_total,
      |  coalesce(min(f) FILTER (WHERE sad > 30), -1)::INT AS first_cut
      |FROM sads GROUP BY doc_id ORDER BY media_id""".stripMargin

  /** mm09: ViT-style 2×2 patch fan-out over per-doc PNGs of varying
    * geometry; each patch row carries a position-weighted checksum of
    * its bytes, so patch extraction order AND content are both
    * hash-checked. */
  private def patchify(s: SparkSession, dir: String): DataFrame = {
    val mkPng = udf { (id: Long) =>
      val w = (6 + (id % 3) * 2).toInt
      val h = (4 + (id % 2) * 2).toInt
      val px = Array.tabulate(h * w * 3)(i => ((id * 31 + i) % 251).toByte)
      Codecs.encodeImage(Codecs.ImageData(h, w, 3, "RGB", px), "png")
    }
    val media = Tables(s, dir).documents
      .select(col("doc_id").as("media_id"), mkPng(col("doc_id")).as("content"))
    val checksum = udf { (b: Array[Byte]) =>
      var sum = 0L
      var k = 0
      while (k < b.length) { sum += (b(k) & 0xff).toLong * (k % 13 + 1); k += 1 }
      sum
    }
    MediaColumns.patchify(media, p = 2)
      .select(col("media_id"), col("patch_row"), col("patch_col"),
        checksum(col("patch")).as("checksum"))
      .orderBy(col("media_id"), col("patch_row"), col("patch_col"))
  }

  private val patchifySql =
    """WITH geom AS (
      |  SELECT doc_id, (6 + (doc_id % 3) * 2)::BIGINT AS w,
      |    (4 + (doc_id % 2) * 2)::BIGINT AS h
      |  FROM documents),
      |pr AS (
      |  SELECT doc_id, w, h,
      |    unnest(generate_series(0, (h // 2 - 1)::INT)) AS py
      |  FROM geom),
      |pc AS (
      |  SELECT doc_id, w, h, py,
      |    unnest(generate_series(0, (w // 2 - 1)::INT)) AS px
      |  FROM pr)
      |SELECT doc_id AS media_id, py::INT AS patch_row, px::INT AS patch_col,
      |  list_sum(list_transform(generate_series(0, 11), k ->
      |    (doc_id*31 + ((py*2 + k//6)*w + px*2 + (k//3)%2)*3 + k%3) % 251
      |    * (k % 13 + 1)))::BIGINT AS checksum
      |FROM pc ORDER BY media_id, patch_row, patch_col""".stripMargin

  /** mm10: VAD-style silence segmentation. Square-wave WAVs with exact
    * zero blocks every 4th h-run — threshold/run logic is integer-exact
    * and the oracle replays block arithmetic including the partial
    * final block. */
  private def silenceSegments(s: SparkSession, dir: String): DataFrame = {
    val mkWav = udf { (id: Long) =>
      val n = 3000 + (id % 40).toInt * 30
      val h = 20 + (id % 7).toInt
      val samples = Array.tabulate(n)(i =>
        (if ((i / h) % 4 == 3) 0 else 9000).toShort)
      WavCodec.encode(WavCodec.Wav(16000, 1, samples))
    }
    val media = Tables(s, dir).documents
      .select(col("doc_id").as("media_id"), mkWav(col("doc_id")).as("content"))
    MediaColumns.silenceSegments(media, threshold = 100, minRun = 15)
      .orderBy(col("media_id"))
  }

  private val silenceSegmentsSql =
    """WITH geom AS (
      |  SELECT doc_id, (3000 + (doc_id % 40) * 30)::BIGINT AS n,
      |    (20 + doc_id % 7)::BIGINT AS h
      |  FROM documents),
      |blocks AS (
      |  SELECT doc_id, n, h,
      |    unnest(generate_series(0, ((n - 1) // h)::INT)) AS b
      |  FROM geom)
      |SELECT doc_id AS media_id, max(n)::INT AS n_samples,
      |  sum(CASE WHEN b % 4 = 3 THEN least((b+1)*h, n) - b*h
      |       ELSE 0 END)::INT AS n_silent,
      |  count(*) FILTER (WHERE b % 4 = 3
      |    AND least((b+1)*h, n) - b*h >= 15)::INT AS n_segments,
      |  coalesce(min(b*h) FILTER (WHERE b % 4 = 3
      |    AND least((b+1)*h, n) - b*h >= 15), -1)::INT AS first_start
      |FROM blocks GROUP BY doc_id ORDER BY media_id""".stripMargin

  /** mm15: pitch tracking over an audio column — per-doc periodic PCM
    * fixtures (sawtooth of period P, integer waveform values) decoded
    * through the REAL WAV codec, then the integer-autocorrelation
    * pitch estimator ([[MediaColumns.pitchTrack]]): argmax of
    * R(L) = Σ x[i]·x[i+L] over the 20–60-sample lag band, ties to the
    * smallest lag. The oracle replays every product-sum exactly
    * (all-integer DSP — no FFT float drift), so a wrong sample
    * anywhere in encode→decode→correlate shifts a value. The detected
    * lag equals the synthesized period by construction, making the
    * row a physical sanity check too. */
  private def pitchTrack(s: SparkSession, dir: String): DataFrame = {
    val mkWav = udf { (id: Long) =>
      val p = 25 + (id % 30).toInt
      val n = 800 + (id % 10).toInt * 40
      val samples = Array.tabulate(n)(i =>
        (((i % p) * 997) % 2001 - 1000).toShort)
      WavCodec.encode(WavCodec.Wav(16000, 1, samples))
    }
    val media = Tables(s, dir).documents
      .select(col("doc_id").as("media_id"), mkWav(col("doc_id")).as("content"))
    MediaColumns.pitchTrack(media, minLag = 20, maxLag = 60)
      .orderBy(col("media_id"))
  }

  private val pitchTrackSql =
    """WITH geom AS (
      |  SELECT doc_id, (25 + doc_id % 30)::INT AS p,
      |    (800 + (doc_id % 10) * 40)::INT AS n
      |  FROM documents),
      |rs AS (
      |  SELECT doc_id, lag,
      |    list_sum(list_transform(generate_series(0, n - lag - 1), i ->
      |      (((i % p) * 997) % 2001 - 1000)
      |      * ((((i + lag) % p) * 997) % 2001 - 1000)))::BIGINT AS r
      |  FROM geom,
      |    (SELECT unnest(generate_series(20, 60)) AS lag) l),
      |r0 AS (
      |  SELECT doc_id,
      |    list_sum(list_transform(generate_series(0, n - 1), i ->
      |      (((i % p) * 997) % 2001 - 1000)
      |      * (((i % p) * 997) % 2001 - 1000)))::BIGINT AS r_zero
      |  FROM geom),
      |best AS (
      |  SELECT doc_id, lag, r,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY r DESC, lag ASC) AS rk
      |  FROM rs)
      |SELECT g.doc_id AS media_id, g.n AS n_samples,
      |  b.lag::INT AS best_lag, r0.r_zero, b.r AS r_best
      |FROM geom g
      |JOIN best b ON b.doc_id = g.doc_id AND b.rk = 1
      |JOIN r0 ON r0.doc_id = g.doc_id
      |ORDER BY media_id""".stripMargin

  /** mm11: SRT subtitle parse + time-range alignment. Cues round-trip
    * through the REAL formatter and parser ([[Subtitles]]), then a
    * range join assigns each sampled frame timestamp its covering cue
    * (starts 2000 ms apart, 1500 ms long — at most one match). The
    * caption-to-clip pairing primitive of video-text curation. */
  private def srtAlign(s: SparkSession, dir: String): DataFrame = {
    val mkSrt = udf { (id: Long) =>
      val k = (2 + id % 4).toInt
      val off = (id % 7) * 250
      Subtitles.formatSrt((0 until k).map(j =>
        Subtitles.Cue(j + 1, j * 2000L + off, j * 2000L + off + 1500,
          s"cue ${id}_$j")))
    }
    val parse = udf { (srt: String) =>
      Subtitles.parseSrt(srt).map(c => (c.index, c.startMs, c.endMs, c.text))
    }
    val docs = Tables(s, dir).documents
    val cues = docs
      .select(col("doc_id").as("media_id"),
        explode(parse(mkSrt(col("doc_id")))).as("cue"))
      .select(col("media_id"), col("cue._1").as("cue_index"),
        col("cue._2").as("start_ms"), col("cue._3").as("end_ms"),
        col("cue._4").as("cue_text"))
    val frames = docs
      .select(col("doc_id").as("media_id"),
        explode(sequence(lit(0), lit(7))).as("frame_no"))
      .withColumn("ts_ms", col("frame_no").cast("long") * 997L)
    frames.join(cues, Seq("media_id"))
      .where(col("ts_ms") >= col("start_ms") && col("ts_ms") < col("end_ms"))
      .select(col("media_id"), col("frame_no"), col("ts_ms"),
        col("cue_index"), col("cue_text"))
      .orderBy(col("media_id"), col("frame_no"))
  }

  private val srtAlignSql =
    """WITH f AS (
      |  SELECT doc_id, (2 + doc_id % 4)::BIGINT AS k,
      |    ((doc_id % 7) * 250)::BIGINT AS off,
      |    unnest(generate_series(0, 7)) AS t
      |  FROM documents),
      |m AS (
      |  SELECT doc_id, t, t*997 AS ts_ms, (t*997 - off) // 2000 AS j
      |  FROM f
      |  WHERE t*997 >= off AND (t*997 - off) // 2000 < k
      |    AND (t*997 - off) % 2000 < 1500)
      |SELECT doc_id AS media_id, t::INT AS frame_no, ts_ms::BIGINT AS ts_ms,
      |  (j + 1)::INT AS cue_index,
      |  'cue ' || doc_id || '_' || j AS cue_text
      |FROM m ORDER BY media_id, frame_no""".stripMargin

  /** mm23: WebVTT subtitle parse + alignment — the web-native sidecar
    * format crawled video corpora carry next to SRT. The fixture VTT
    * exercises the format's own machinery: signature + header
    * metadata, a NOTE block (skipped), cue identifier lines, cue
    * settings after the timing (ignored), and inline <b>/<c> tags
    * (stripped); entry is the format-sniffing [[Subtitles.parseAuto]].
    * Alignment math mirrors mm11 with distinct constants. */
  private def vttAlign(s: SparkSession, dir: String): DataFrame = {
    val mkVtt = udf { (id: Long) =>
      val k = (2 + id % 4).toInt
      val off = (id % 5) * 300
      def ts(v: Long): String =
        f"${v / 3600000}%02d:${v / 60000 % 60}%02d:${v / 1000 % 60}%02d.${v % 1000}%03d"
      val cues = (0 until k).map { j =>
        val st = j * 2000L + off
        s"${j + 1}\n${ts(st)} --> ${ts(st + 1500)} align:start position:10%\n" +
          s"cue <b>${id}_$j</b>"
      }
      "WEBVTT - synthetic\nKind: captions\n\nNOTE\nfixture block\n\n" +
        cues.mkString("\n\n") + "\n"
    }
    val parse = udf { (vtt: String) =>
      Subtitles.parseAuto(vtt).map(c => (c.index, c.startMs, c.endMs, c.text))
    }
    val docs = Tables(s, dir).documents
    val cues = docs
      .select(col("doc_id").as("media_id"),
        explode(parse(mkVtt(col("doc_id")))).as("cue"))
      .select(col("media_id"), col("cue._1").as("cue_index"),
        col("cue._2").as("start_ms"), col("cue._3").as("end_ms"),
        col("cue._4").as("cue_text"))
    val frames = docs
      .select(col("doc_id").as("media_id"),
        explode(sequence(lit(0), lit(7))).as("frame_no"))
      .withColumn("ts_ms", col("frame_no").cast("long") * 997L)
    frames.join(cues, Seq("media_id"))
      .where(col("ts_ms") >= col("start_ms") && col("ts_ms") < col("end_ms"))
      .select(col("media_id"), col("frame_no"), col("ts_ms"),
        col("cue_index"), col("cue_text"))
      .orderBy(col("media_id"), col("frame_no"))
  }

  private val vttAlignSql =
    """WITH f AS (
      |  SELECT doc_id, (2 + doc_id % 4)::BIGINT AS k,
      |    ((doc_id % 5) * 300)::BIGINT AS off,
      |    unnest(generate_series(0, 7)) AS t
      |  FROM documents),
      |m AS (
      |  SELECT doc_id, t, t*997 AS ts_ms, (t*997 - off) // 2000 AS j
      |  FROM f
      |  WHERE t*997 >= off AND (t*997 - off) // 2000 < k
      |    AND (t*997 - off) % 2000 < 1500)
      |SELECT doc_id AS media_id, t::INT AS frame_no, ts_ms::BIGINT AS ts_ms,
      |  (j + 1)::INT AS cue_index,
      |  'cue ' || doc_id || '_' || j AS cue_text
      |FROM m ORDER BY media_id, frame_no""".stripMargin

  /** mm12: GOP/bitrate container audit — per-video keyframe cadence and
    * sample-size stats from the REAL stbl walk ([[Mp4Samples.parse]]:
    * stsz sizes + stss sync table), with NO frame decode — exactly how
    * a 100 TB corpus audit runs (container metadata is KBs/video; the
    * mdat payload never leaves the scan). Frame payloads are opaque
    * blobs of doc-deterministic length, so every statistic is integer
    * math the oracle replays. */
  private def gopAudit(s: SparkSession, dir: String): DataFrame = {
    val mkMp4 = udf { (id: Long) =>
      val n = (8 + id % 7).toInt
      val se = (2 + id % 3).toInt
      val frames = (0 until n).map(f =>
        new Array[Byte](100 + ((id * 13 + f * 7) % 150).toInt))
      // odd docs are FRAGMENTED (moof/trun) — the audit must be
      // layout-agnostic: identical samples/sync cadence, so the
      // closed-form oracle is unchanged while the container walk
      // flips between stbl and movie fragments per doc
      if (id % 2 == 1)
        Mp4Samples.encodeFramesFragmented(frames, codec = "gop ",
          fps = 10, width = 16, height = 16, syncEvery = se,
          samplesPerFragment = 3)
      else
        Mp4Samples.encodeFrames(frames, codec = "gop ", fps = 10,
          width = 16, height = 16, syncEvery = se)
    }
    val media = Tables(s, dir).documents
      .select(col("doc_id").as("media_id"), mkMp4(col("doc_id")).as("content"))
    MediaColumns.gopStats(media)
      .select(col("media_id"), col("n_samples"), col("n_key"),
        col("total_bytes"), col("max_bytes"),
        round(col("gop_raw"), 4).as("mean_gop"))
      .orderBy(col("media_id"))
  }

  private val gopAuditSql =
    """WITH geom AS (
      |  SELECT doc_id, (8 + doc_id % 7)::BIGINT AS n,
      |    (2 + doc_id % 3)::BIGINT AS s
      |  FROM documents),
      |sz AS (
      |  SELECT doc_id, n, s,
      |    list_transform(generate_series(0, (n - 1)::INT),
      |      f -> 100 + (doc_id*13 + f*7) % 150) AS ls
      |  FROM geom)
      |SELECT doc_id AS media_id, n::INT AS n_samples,
      |  ((n + s - 1) // s)::INT AS n_key,
      |  list_sum(ls)::BIGINT AS total_bytes,
      |  list_max(ls)::INT AS max_bytes,
      |  round(n / ((n + s - 1) // s)::DOUBLE, 4) AS mean_gop
      |FROM sz ORDER BY media_id""".stripMargin

  /** mm13: per-codec decode-support audit — the triage a real video
    * corpus needs FIRST, because production corpora are H.264/H.265
    * (reference decode dispatch: `pack/dataset.py:102-108`). Each doc
    * synthesizes an mp4 whose stsd fourcc rotates jpeg / png / avc1 /
    * hev1; the audit probes container metadata (codec-independent),
    * then attempts a real frame decode per video. avc1 decodes through
    * the pure-JVM baseline I-frame decoder ([[graft.multimodal.h264]]);
    * hev1 (H.265) surfaces as a typed `unsupported_codec` status via
    * [[graft.pack.FrameSource.UnsupportedCodecException]] — NEVER as
    * synthetic or raw-NAL frames — so n_decoded counts only frames the
    * engine actually produced. At 100 TB this plan moves one summary
    * row per video; mdat payloads die inside their task. */
  private def codecAudit(s: SparkSession, dir: String): DataFrame = {
    val mkMp4 = udf { (id: Long) =>
      val n = (4 + id % 3).toInt
      (id % 4) match {
        case 2 =>
          // real avc1 WITH P-frames (GOP of 4): every non-sync frame
          // needs the inter decode walk — the round-8 triage flip from
          // `unsupported_codec` to fully decodable. Oracle unchanged:
          // all frames decode.
          graft.multimodal.h264.H264Fixtures.videoGop(id, n)
        case 3 =>
          // opaque NAL-ish blobs behind an hev1 fourcc: content is never
          // decoded, only the container walk sees them
          val frames = (0 until n).map(f =>
            Array.fill(64 + ((id * 7 + f) % 32).toInt)(0x41.toByte))
          Mp4Samples.encodeFrames(frames, codec = "hev1", fps = 10,
            width = 2, height = 2, syncEvery = 3)
        case m =>
          // payload encoding matches the declared fourcc — a mismatch
          // would let content sniffing mask a codec-dispatch regression
          val frames = (0 until n).map { f =>
            val px = Array.tabulate(12)(i =>
              ((id * 17 + f * 29 + i) % 251).toByte)
            Codecs.encodeImage(Codecs.ImageData(2, 2, 3, "RGB", px),
              if (m == 0L) "jpeg" else "png")
          }
          Mp4Samples.encodeFrames(frames,
            codec = if (m == 0L) "jpeg" else "png ", fps = 10,
            width = 2, height = 2, syncEvery = 3)
      }
    }
    val audit = udf { (bytes: Array[Byte]) =>
      val src = graft.pack.FrameSource.Mp4Frames
      val codec = Mp4Samples.parse(bytes).map(_.codec).getOrElse("?")
      val n = src.frameCount(bytes) // metadata path: works for ALL codecs
      val (decoded, status) =
        try {
          var c = 0
          (0 until n).foreach { i =>
            if (src.frame(bytes, i).nonEmpty) c += 1
          }
          (c, "ok")
        } catch {
          case graft.pack.FrameSource.UnsupportedCodecException(_) =>
            (0, "unsupported_codec")
        }
      (codec, n, decoded, status)
    }
    Tables(s, dir).documents
      .select(col("doc_id"), audit(mkMp4(col("doc_id"))).as("a"))
      .select(col("a._1").as("codec"), col("a._2").as("n"),
        col("a._3").as("dec"), col("a._4").as("status"))
      .groupBy(col("codec"), col("status"))
      .agg(count(lit(1)).as("n_videos"),
        sum(col("n")).cast("long").as("n_frames"),
        sum(col("dec")).cast("long").as("n_decoded"))
      .withColumn("decodable",
        when(col("status") === "ok", 1).otherwise(0).cast("int"))
      .select(col("codec"), col("status"), col("decodable"),
        col("n_videos"), col("n_frames"), col("n_decoded"))
      .orderBy(col("codec"))
  }

  private val codecAuditSql =
    """WITH g AS (
      |  SELECT doc_id, doc_id % 4 AS m,
      |    (4 + doc_id % 3)::BIGINT AS n
      |  FROM documents)
      |SELECT
      |  CASE m WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' WHEN 2 THEN 'avc1'
      |    ELSE 'hev1' END AS codec,
      |  CASE WHEN m = 3 THEN 'unsupported_codec' ELSE 'ok' END AS status,
      |  CASE WHEN m = 3 THEN 0 ELSE 1 END::INT AS decodable,
      |  count(*) AS n_videos,
      |  sum(n)::BIGINT AS n_frames,
      |  (CASE WHEN m = 3 THEN 0 ELSE sum(n) END)::BIGINT AS n_decoded
      |FROM g GROUP BY m ORDER BY codec""".stripMargin

  /** Local-mode instrumentation for mm27's single-evaluation audit:
    * the fingerprint pass bumps this once per evaluated take, so a
    * spec can assert the expensive decode subtree ran exactly ONCE per
    * media row (not once per join branch) after a full mm27
    * materialization. local[*] runs executors in this JVM, so a static
    * counter sees every task; on a real cluster this is a no-op cost.
    * (Module-static access survives closure serialization, so the
    * increments land on THIS instance, not a deserialized copy.) */
  private[graft] val mm27DecodeCalls =
    new java.util.concurrent.atomic.AtomicLong

  /** Two-take media frame (id spine repartitioned BEFORE content
    * synthesis — compute-bound decode wants the defaultParallelism
    * spread past AQE coalescing, see mm22's measured 10×) driven
    * through the library operator
    * [[graft.multimodal.MediaDedup.shingleNearDup]], with its generic
    * output columns renamed to the family's oracle names. */
  /** the family's fixture frame: one row per (doc, take ∈ {0, 1}),
    * id spine repartitioned BEFORE content synthesis */
  private def twoTakeMedia(s: SparkSession, dir: String,
      content: org.apache.spark.sql.expressions.UserDefinedFunction)
      : DataFrame =
    Tables(s, dir).documents
      .select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id").as("media_id"),
        explode(array(lit(0), lit(1))).as("take"))
      .withColumn("content", content(col("media_id"), col("take")))

  /** the mm27/mm30 fixture video: prefix-sharing re-upload, 3 extra
    * trailing frames on take 1 — ONE definition so the mm30 oracle
    * (which replays the mm27 pair SQL) can never desynchronize */
  private val mm27Video =
    udf { (id: Long, take: Int) =>
      val nx = (6 + (id % 3) * 3).toInt
      graft.multimodal.h264.H264Fixtures.video(
        id, if (take == 0) nx else nx + 3)
    }

  private def nearDupPairs(s: SparkSession, dir: String, prefix: String,
      content: org.apache.spark.sql.expressions.UserDefinedFunction,
      fingerprint: Array[Byte] => IndexedSeq[String],
      window: Int = 3): DataFrame =
    MediaDedup.shingleNearDup(twoTakeMedia(s, dir, content),
      WdsQueries.scratchDir(prefix), fingerprint, window)
      .select(col("a_id").as("a_doc"), col("a_take").as("a_vid"),
        col("b_id").as("b_doc"), col("b_take").as("b_vid"),
        col("shared"), col("union_n"), col("jaccard_ppm"))

  /** mm31: IMAGE perceptual dedup — the single-still case of the
    * near-dup family and the most common training-data dedup job
    * (LAION-style image pools): `window = 1` degenerates shingle-set
    * Jaccard to aHash bucket equality, so the join finds EXACT
    * perceptual-hash matches
    * ([[graft.multimodal.MediaDedup.perceptualImageFingerprint]]).
    * Each doc's take 1 is the same synthetic photo BRIGHTNESS-SHIFTED
    * by +25/channel (the re-exposure / levels-adjust shape) and
    * re-encoded: every byte and every pixel changes, the
    * brighter-than-mean pattern provably does not (the shift adds the
    * same amount to each cell mean and the frame mean; pixels stay
    * ≤245 so clamping never bends it). The per-channel patterns are
    * doubly modulated (gradient slope by d mod 89/83/79, offset by
    * d mod 191), so identical cross-doc images are astronomically
    * rare and the pair list stays linear in corpus size; chance aHash
    * collisions remain possible and are replayed exactly by the
    * oracle's full closed-form aHash — both engines agree on every
    * collision rather than assuming none. */
  /** the mm31/st13 fixture photo: doubly-modulated per-channel
    * gradients; take 1 is brightness-shifted +25/channel (no value
    * reaches 255, so clamping never bends the aHash invariant) */
  private def mm31Image(id: Long, take: Int): Array[Byte] = {
    val base = if (take == 0) 0 else 25
    val px = Array.tabulate(768) { j =>
      val i = j / 3
      val v = (j % 3) match {
        case 0 => ((id % 89 + 1) * i + id * 7) % 191
        case 1 => ((id % 83 + 2) * i + id * 11) % 191
        case _ => ((id % 79 + 3) * i + id * 13) % 191
      }
      (v + 30 + base).toByte
    }
    Codecs.encodeImage(Codecs.ImageData(16, 16, 3, "RGB", px), "png")
  }

  private def imagePerceptualDup(s: SparkSession, dir: String): DataFrame = {
    val mkImage = udf((id: Long, take: Int) => mm31Image(id, take))
    nearDupPairs(s, dir, "graft_mm31", mkImage,
      MediaDedup.perceptualImageFingerprint(), window = 1)
  }

  /** Full closed-form aHash replay per (doc, take): per-pixel channel
    * values from the synthesis formulas (+75 g3 shift on take 1), 2x2
    * block sums, strict brighter-than-mean bits, md5 bucket join.
    * Single-fingerprint sets make shared = union = 1 and jaccard
    * exactly 1.0 for every surviving pair. */
  /** closed-form aHash CTEs shared by mm31 and st13: shd(d, vid, sh)
    * is the md5 of each take's 64-bit brighter-than-mean pattern */
  private val imageAHashCtes =
    """tk AS (
      |  SELECT doc_id AS d, v AS vid FROM documents
      |  CROSS JOIN (SELECT unnest([0, 1]) AS v) t),
      |px AS (
      |  SELECT d, vid, ((i//16)//2)*8 + (i%16)//2 AS blk,
      |    ((d % 89 + 1) * i + d * 7) % 191
      |      + ((d % 83 + 2) * i + d * 11) % 191
      |      + ((d % 79 + 3) * i + d * 13) % 191 + 90
      |      + CASE WHEN vid = 1 THEN 75 ELSE 0 END AS g3
      |  FROM tk CROSS JOIN (
      |    SELECT unnest(generate_series(0, 255)) AS i) t),
      |blocks AS (
      |  SELECT d, vid, blk, sum(g3)::BIGINT AS bsum
      |  FROM px GROUP BY d, vid, blk),
      |wtot AS (
      |  SELECT d, vid, blk, bsum,
      |    sum(bsum) OVER (PARTITION BY d, vid) AS tot
      |  FROM blocks),
      |fpimg AS (
      |  SELECT d, vid,
      |    string_agg(CASE WHEN 64*bsum > tot THEN '1' ELSE '0' END, ''
      |               ORDER BY blk) AS s
      |  FROM wtot GROUP BY d, vid),
      |shd AS (SELECT d, vid, md5(s) AS sh FROM fpimg)""".stripMargin

  private val imagePerceptualDupSql =
    s"""WITH $imageAHashCtes
      |SELECT a.d AS a_doc, a.vid AS a_vid, b.d AS b_doc, b.vid AS b_vid,
      |  1::BIGINT AS shared, 1::BIGINT AS union_n,
      |  1000000::BIGINT AS jaccard_ppm
      |FROM shd a JOIN shd b ON a.sh = b.sh
      |WHERE (a.d, a.vid) < (b.d, b.vid)
      |ORDER BY a_doc, a_vid, b_doc, b_vid""".stripMargin

  /** the staged (media_id, take, content) fixture parquet st13
    * streams from, written once per sf dir */
  private val stagedMedia =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def mm31MediaStage(s: SparkSession, dir: String): String =
    stagedMedia.computeIfAbsent(dir, _ => {
      val stage = WdsQueries.scratchDir("graft_st13_media")
      val mk = udf((id: Long, take: Int) => mm31Image(id, take))
      Tables(s, dir).documents
        .select(col("doc_id").as("media_id"))
        .select(col("media_id"), explode(array(lit(0), lit(1))).as("take"))
        .withColumn("content", mk(col("media_id"), col("take")))
        .coalesce(4)
        .write.mode("overwrite").parquet(stage)
      stage
    })

  /** st13: STREAMING media near-dup — the st09 first-arrival contract
    * for media columns, over the SHIPPED operators
    * [[graft.multimodal.MediaDedup.streamingNearDupVerdicts]] composed
    * with [[graft.multimodal.MediaDedup.compactVerdicts]]: the mm31
    * image fixture arrives as a stream; each aHash bucket's keyed
    * state is its first-arrival owner (one composite key per distinct
    * shingle — bounded by content diversity, never corpus size); the
    * sink compaction verifies each item's candidate owners by exact
    * shingle-set Jaccard against the staged batch relation and keeps
    * the minimum qualifying partner. The gate stages one AvailableNow
    * epoch, where first-arrival degenerates to the key-min form this
    * oracle replays from the closed-form aHash (window 1 makes every
    * shared bucket exact-Jaccard 1.0, so refinement prunes nothing
    * here — MediaDedupSpec pins the case where it does, plus the
    * multi-epoch arrival-order semantics). */
  private def streamMediaDedup(s: SparkSession, dir: String): DataFrame = {
    val stage = mm31MediaStage(s, dir)
    val src = s.readStream
      .schema("media_id LONG, take INT, content BINARY")
      .parquet(stage)
    val name = "stmedia_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val verdicts = graft.streaming.EventStreams.runToMemory(s,
      MediaDedup.streamingNearDupVerdicts(src,
        MediaDedup.perceptualImageFingerprint(), window = 1).toDF(),
      name, statePartitions = Some(4))
    val staged = MediaDedup.stageShingles(s.read.parquet(stage),
      WdsQueries.scratchDir("graft_st13_sigs"),
      MediaDedup.perceptualImageFingerprint(), window = 1)
    MediaDedup.compactVerdicts(verdicts, staged)
  }

  /** single-epoch first-arrival = min composite key per aHash bucket,
    * replayed over the shared closed-form CTEs (d*2+vid is the
    * order-preserving encoding of ((d, vid)) for vid ∈ {0,1}) */
  private val streamMediaDedupSql =
    s"""WITH $imageAHashCtes,
      |own AS (SELECT sh, min(d*2 + vid) AS o FROM shd GROUP BY sh)
      |SELECT s.d AS media_id, s.vid AS take,
      |  (o.o // 2) AS partner_id, (o.o % 2)::INT AS partner_take,
      |  CASE WHEN o.o <> s.d*2 + s.vid THEN 1 ELSE 0 END AS is_dup
      |FROM shd s JOIN own o ON o.sh = s.sh
      |ORDER BY media_id, take""".stripMargin

  /** mm27: VIDEO NEAR-DUPLICATE detection — the video analog of
    * n-gram/MinHash text dedup (qd04/qd02), over REALLY-DECODED H.264
    * frames. Each doc carries two videos: the original (6/9/12 frames
    * by d%3) and a "re-upload" sharing its full frame prefix plus 3
    * new frames (the trailing-ad / re-encode-tail shape). Per video, a
    * task-LOCAL pass decodes every frame and emits temporal SHINGLES:
    * md5 over the channel-sum fingerprints of 3 consecutive display
    * frames, stride 1 — shingling (not single-frame hashes) keeps
    * chance collisions nil and tolerates boundary trims, exactly like
    * n-gram shingling for text (qd04). The heavy lifting — staged
    * single-evaluation decode, hash-bucketed candidate join, exact
    * Jaccard — is the LIBRARY operator
    * [[graft.multimodal.MediaDedup.shingleNearDup]] with its
    * [[graft.multimodal.MediaDedup.exactVideoFingerprint]]; the query
    * contributes only the fixture synthesis and the oracle.
    * [[mm27DecodeCalls]] + VideoNearDupSpec pin the single decode per
    * take (ReuseExchange cannot, because the UDF sits above the
    * repartition exchange). 100 TB shape: decode + shingle cost is
    * per-video narrow work inside one task; only (id, take, hash)
    * rows cross an exchange; the join is hash-bucketed, never
    * all-pairs over videos. Reference decode path:
    * `pack/samplers.py:102-157`. */
  private def videoNearDup(s: SparkSession, dir: String): DataFrame = {
    val exact = MediaDedup.exactVideoFingerprint(
      graft.pack.FrameSource.Mp4Frames)
    nearDupPairs(s, dir, "graft_mm27", mm27Video, bytes => {
      mm27DecodeCalls.incrementAndGet(): Unit
      exact(bytes)
    })
  }

  /** Oracle tail shared by mm27/mm28: consumes a CTE `fp(d, vid, f,
    * s)` of per-frame fingerprint strings, shingles with window
    * leads + md5, and replays the bucket-join Jaccard. */
  private val shingleTailSql =
    """led AS (
      |  SELECT d, vid, s,
      |    lead(s, 1) OVER (PARTITION BY d, vid ORDER BY f) AS s1,
      |    lead(s, 2) OVER (PARTITION BY d, vid ORDER BY f) AS s2
      |  FROM fp),
      |shd AS (
      |  SELECT DISTINCT d, vid, md5(s || '|' || s1 || '|' || s2) AS sh
      |  FROM led WHERE s2 IS NOT NULL),
      |sizes AS (
      |  SELECT d, vid, count(*)::INT AS n_sh FROM shd GROUP BY d, vid),
      |pairs AS (
      |  SELECT a.d AS a_doc, a.vid AS a_vid, b.d AS b_doc,
      |    b.vid AS b_vid, count(*)::BIGINT AS shared
      |  FROM shd a JOIN shd b ON a.sh = b.sh
      |  WHERE (a.d, a.vid) < (b.d, b.vid)
      |  GROUP BY 1, 2, 3, 4)
      |SELECT p.a_doc, p.a_vid, p.b_doc, p.b_vid, p.shared,
      |  (sa.n_sh + sb.n_sh - p.shared)::BIGINT AS union_n,
      |  ((1000000 * p.shared) // (sa.n_sh + sb.n_sh - p.shared))::BIGINT
      |    AS jaccard_ppm
      |FROM pairs p
      |JOIN sizes sa ON sa.d = p.a_doc AND sa.vid = p.a_vid
      |JOIN sizes sb ON sb.d = p.b_doc AND sb.vid = p.b_vid
      |WHERE (1000000 * p.shared) // (sa.n_sh + sb.n_sh - p.shared)
      |  >= 400000
      |ORDER BY a_doc, a_vid, b_doc, b_vid""".stripMargin

  /** Replays mm14's closed-form per-frame channel sums for BOTH
    * videos (frame content is a pure function of (doc, frame, qp) —
    * independent of video length, which is what makes the re-upload a
    * true prefix), shingles them with window leads + DuckDB's built-in
    * md5 over the same `rs:gs:bs|…` strings, and re-derives the
    * bucket-join Jaccard — the oracle computes the same near-dup
    * pairs from pure arithmetic. */
  /** Closed-form per-frame channel-sum CTEs shared by mm27 (full
    * videos) and mm32 (clip frame RANGES): consumes `fr(d, qp, vid,
    * f)` — `f` is the CONTENT index, whatever display range the
    * caller's `fr` enumerates — and yields `fp(d, vid, f, s)` of
    * per-frame `rs:gs:bs` fingerprint strings. */
  private val frameFpCtes =
    """q AS (
      |  SELECT d, f, qp, vid, (f % 3)::INT AS kind,
      |    [10,11,13,14,16,18][qp % 6 + 1] AS v6,
      |    CASE WHEN qp < 30 THEN qp
      |         ELSE [29,30,31,32,32,33,34,34,35,35][qp - 29] END AS qpc
      |  FROM fr),
      |q2 AS (
      |  SELECT *, [10,11,13,14,16,18][qpc % 6 + 1] AS vc FROM q),
      |k0px AS (
      |  SELECT d, vid, f,
      |    (d*31 + f*53 + i*7) % 251 AS yv,
      |    (d*29 + f*47 + (((i//16)//2)*8 + (i%16)//2)*11) % 251 - 128 AS u,
      |    (d*23 + f*41 + (((i//16)//2)*8 + (i%16)//2)*13) % 251 - 128 AS v
      |  FROM q2 CROSS JOIN (
      |    SELECT unnest(generate_series(0, 255)) AS i) px
      |  WHERE kind = 0),
      |k0 AS (
      |  SELECT d, vid, f,
      |    sum(GREATEST(0, LEAST(255,
      |      yv + floor((91881*v + 32768) / 65536.0)::INT)))::BIGINT AS rs,
      |    sum(GREATEST(0, LEAST(255,
      |      yv - floor((22554*u + 46802*v + 32768) / 65536.0)::INT
      |      )))::BIGINT AS gs,
      |    sum(GREATEST(0, LEAST(255,
      |      yv + floor((116130*u + 32768) / 65536.0)::INT)))::BIGINT AS bs
      |  FROM k0px GROUP BY d, vid, f),
      |k1a AS (
      |  SELECT d, vid, f, qp, qpc, v6, vc,
      |    (1 + (d + f) % 5)::INT AS ly,
      |    ((d + f) % 3)::INT AS lcb,
      |    ((d + 2*f) % 3)::INT AS lcr
      |  FROM q2 WHERE kind = 1),
      |k1b AS (
      |  SELECT d, vid, f,
      |    GREATEST(0, LEAST(255, 128 +
      |      (CASE WHEN qp >= 36 THEN ly * v6
      |            ELSE (ly*v6 + (1 << (5 - qp//6))) // (1 << (6 - qp//6))
      |       END + 32) // 64)) AS yv,
      |    GREATEST(0, LEAST(255, 128 +
      |      ((lcb*vc*(1 << (qpc//6))) // 32 + 32) // 64)) - 128 AS u,
      |    GREATEST(0, LEAST(255, 128 +
      |      ((lcr*vc*(1 << (qpc//6))) // 32 + 32) // 64)) - 128 AS v
      |  FROM k1a),
      |k1 AS (
      |  SELECT d, vid, f,
      |    256 * GREATEST(0, LEAST(255,
      |      yv + floor((91881*v + 32768) / 65536.0)::INT))::BIGINT AS rs,
      |    256 * GREATEST(0, LEAST(255,
      |      yv - floor((22554*u + 46802*v + 32768) / 65536.0)::INT
      |      ))::BIGINT AS gs,
      |    256 * GREATEST(0, LEAST(255,
      |      yv + floor((116130*u + 32768) / 65536.0)::INT))::BIGINT AS bs
      |  FROM k1b),
      |k2 AS (
      |  SELECT d, vid, f,
      |    256 * GREATEST(0, LEAST(255, 128 +
      |      ((1 + (d*3 + f) % 5) * v6 * (1 << (qp//6)) + 32) // 64
      |      ))::BIGINT AS rs,
      |    256 * GREATEST(0, LEAST(255, 128 +
      |      ((1 + (d*3 + f) % 5) * v6 * (1 << (qp//6)) + 32) // 64
      |      ))::BIGINT AS gs,
      |    256 * GREATEST(0, LEAST(255, 128 +
      |      ((1 + (d*3 + f) % 5) * v6 * (1 << (qp//6)) + 32) // 64
      |      ))::BIGINT AS bs
      |  FROM q2 WHERE kind = 2),
      |allk AS (
      |  SELECT * FROM k0 UNION ALL SELECT * FROM k1
      |  UNION ALL SELECT * FROM k2),
      |fp AS (
      |  SELECT d, vid, f,
      |    rs::VARCHAR || ':' || gs::VARCHAR || ':' || bs::VARCHAR AS s
      |  FROM allk)""".stripMargin

  private val videoNearDupSql =
    """WITH g AS (
      |  SELECT doc_id AS d, (16 + doc_id % 24)::INT AS qp,
      |    (6 + (doc_id % 3) * 3)::INT AS nx
      |  FROM documents),
      |vids AS (
      |  SELECT d, qp, 0 AS vid, nx AS n FROM g
      |  UNION ALL SELECT d, qp, 1 AS vid, nx + 3 AS n FROM g),
      |fr AS (
      |  SELECT d, qp, vid, unnest(generate_series(0, n - 1)) AS f
      |  FROM vids),""".stripMargin + "\n" + frameFpCtes + ",\n" +
      shingleTailSql

  /** mm30: media duplicate CLUSTERS — the corpus-scale termination of
    * the near-dup family as a GATED query:
    * [[graft.multimodal.MediaDedup.nearDupClusters]] over the mm27
    * exact-fingerprint fixture collapses verified pairs into
    * connected components (composite (media_id, take) labels through
    * the shared checkpointed min-label loop) and marks one survivor
    * per cluster — the shape a 100 TB job materializes INSTEAD of the
    * cluster-quadratic pair list (qd09's posture, now for media). The
    * oracle replays the mm27 pair SQL and closes it transitively with
    * a recursive CTE over order-preserving encoded keys (d*2+take),
    * so min-label equals the decoded (min d, take). */
  private def mediaDupClusters(s: SparkSession, dir: String): DataFrame =
    MediaDedup.nearDupClusters(twoTakeMedia(s, dir, mm27Video),
      WdsQueries.scratchDir("graft_mm30"),
      MediaDedup.exactVideoFingerprint(graft.pack.FrameSource.Mp4Frames))

  private val mediaDupClustersSql = {
    val pairs = videoNearDupSql
      .replace("ORDER BY a_doc, a_vid, b_doc, b_vid", "")
    s"""WITH RECURSIVE p AS ($pairs),
       |e AS (
       |  SELECT a_doc*2 + a_vid AS src, b_doc*2 + b_vid AS dst FROM p
       |  UNION ALL
       |  SELECT b_doc*2 + b_vid, a_doc*2 + a_vid FROM p
       |),
       |verts AS (
       |  SELECT doc_id*2 + v AS id FROM documents
       |  CROSS JOIN (SELECT unnest([0, 1]) AS v) t),
       |reach(id, label) AS (
       |  SELECT id, id FROM verts
       |  UNION
       |  SELECT eg.dst, r.label FROM reach r JOIN e eg ON eg.src = r.id
       |)
       |SELECT id // 2 AS media_id, (id % 2)::INT AS take,
       |  min(label) // 2 AS cluster_id,
       |  (min(label) % 2)::INT AS cluster_take,
       |  (id = min(label)) AS survivor
       |FROM reach GROUP BY id ORDER BY media_id, take""".stripMargin
  }

  /** the mm32 fixture: take 0 = a full video (nx + 4 frames starting
    * at per-doc content base (d·d) % 3571); take 1 = a CLIP of it
    * starting `off = 1 + d%3` frames in, nx frames long — the trim /
    * re-clip shape whose LOCATION the operator must find (unlike
    * mm27's prefix-sharing re-upload, the overlap here starts
    * mid-video at a per-doc offset). The quadratic content base
    * spreads docs across the frame-content orbit (frame pixels are
    * periodic in d with period lcm(251,15,24) = 30120, so at 50k+
    * docs sequential ids put every doc past 30120 in the SAME
    * [0, nx+4) content window as its residue twin — the sf1
    * verdict-inflation artifact the round-11 ring recorded); with
    * bases scattered over a 3571-residue orbit slice, residue twins
    * almost never overlap in content window and verdicts track
    * planted overlap. Alignment semantics are base-invariant:
    * display pos = content f − base, so offset and span pins are
    * unchanged. */
  private val mm32Video =
    udf { (id: Long, take: Int) =>
      val nx = (6 + (id % 3) * 3).toInt
      val off = (1 + id % 3).toInt
      val base = ((id * id) % 3571).toInt
      if (take == 0)
        graft.multimodal.h264.H264Fixtures.videoClip(id, base, nx + 4)
      else
        graft.multimodal.h264.H264Fixtures.videoClip(id, base + off, nx)
    }

  /** mm32: duplicate-SEGMENT localization — mm27 says WHICH videos
    * near-duplicate; this says WHERE: every shared positional shingle
    * votes for a temporal offset (a_pos − b_pos), the modal offset
    * wins (ties → smallest), and the matched span [a_from, a_to]
    * localizes the reused segment in the a-side — the
    * offset-histogram alignment of audio/video fingerprinting
    * (Shazam-style constellation voting reduced to 1-D), as the
    * library operator
    * [[graft.multimodal.MediaDedup.dupSegmentAlign]]. The fixture's
    * take 1 is a mid-video clip, so the expected verdict per doc is
    * offset = 1 + d%3 with a full-clip span — the spec pins it in
    * closed form. Decode once into the staged positional relation;
    * only (id, take, pos, hash) rows cross exchanges; the vote
    * histogram is a groupBy on (pair, offset), never all-pairs over
    * media. Reference decode path: `pack/samplers.py:102-157`. */
  private def dupSegments(s: SparkSession, dir: String): DataFrame =
    MediaDedup.dupSegmentAlign(twoTakeMedia(s, dir, mm32Video),
      WdsQueries.scratchDir("graft_mm32"),
      MediaDedup.exactVideoFingerprint(graft.pack.FrameSource.Mp4Frames))
      .select(col("a_id").as("a_doc"), col("a_take").as("a_vid"),
        col("b_id").as("b_doc"), col("b_take").as("b_vid"),
        col("n_match"), col("offset"), col("seg_len"),
        col("a_from"), col("a_to"))

  /** Replays the frame arithmetic over each take's CONTENT RANGE
    * (take 0: 0..nx+3; take 1: off..off+nx−1 — the clip decodes
    * bit-identically to those display indices of the full video),
    * shingles positionally (display pos = content f − range lo), and
    * re-derives the offset-vote argmax with the same
    * (votes desc, offset asc) tie-break. */
  private val dupSegmentsSql =
    """WITH g AS (
      |  SELECT doc_id AS d, (16 + doc_id % 24)::INT AS qp,
      |    (6 + (doc_id % 3) * 3)::INT AS nx,
      |    (1 + doc_id % 3)::INT AS off,
      |    ((doc_id * doc_id) % 3571)::INT AS base
      |  FROM documents),
      |vids AS (
      |  SELECT d, qp, 0 AS vid, base AS lo, base + nx + 3 AS hi FROM g
      |  UNION ALL
      |  SELECT d, qp, 1 AS vid, base + off, base + off + nx - 1 FROM g),
      |fr AS (
      |  SELECT d, qp, vid, unnest(generate_series(lo, hi)) AS f
      |  FROM vids),""".stripMargin + "\n" + frameFpCtes + ",\n" +
    """led AS (
      |  SELECT d, vid, f, s,
      |    lead(s, 1) OVER (PARTITION BY d, vid ORDER BY f) AS s1,
      |    lead(s, 2) OVER (PARTITION BY d, vid ORDER BY f) AS s2
      |  FROM fp),
      |shp AS (
      |  SELECT l.d, l.vid, (l.f - v.lo)::INT AS pos,
      |    md5(l.s || '|' || l.s1 || '|' || l.s2) AS sh
      |  FROM led l JOIN vids v ON v.d = l.d AND v.vid = l.vid
      |  WHERE l.s2 IS NOT NULL),
      |m AS (
      |  SELECT a.d AS a_doc, a.vid AS a_vid, b.d AS b_doc,
      |    b.vid AS b_vid, a.pos AS a_pos, b.pos AS b_pos
      |  FROM shp a JOIN shp b ON a.sh = b.sh
      |  WHERE (a.d, a.vid) < (b.d, b.vid)),
      |byoff AS (
      |  SELECT a_doc, a_vid, b_doc, b_vid,
      |    (a_pos - b_pos)::INT AS "offset",
      |    count(*)::BIGINT AS seg_len,
      |    min(a_pos)::INT AS a_from, max(a_pos)::INT AS a_to
      |  FROM m GROUP BY 1, 2, 3, 4, 5),
      |best AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY a_doc, a_vid, b_doc, b_vid
      |      ORDER BY seg_len DESC, "offset" ASC) AS rn,
      |    sum(seg_len) OVER (PARTITION BY a_doc, a_vid, b_doc, b_vid)
      |      AS n_match
      |  FROM byoff)
      |SELECT a_doc, a_vid, b_doc, b_vid, n_match::BIGINT AS n_match,
      |  "offset", seg_len, a_from, a_to
      |FROM best WHERE rn = 1 AND seg_len >= 2
      |ORDER BY a_doc, a_vid, b_doc, b_vid""".stripMargin

  /** Local-mode instrumentation, mm28's analog of [[mm27DecodeCalls]]. */
  private[graft] val mm28DecodeCalls =
    new java.util.concurrent.atomic.AtomicLong

  /** Local-mode instrumentation, mm29's analog of [[mm27DecodeCalls]]. */
  private[graft] val mm29DecodeCalls =
    new java.util.concurrent.atomic.AtomicLong

  /** mm29: AUDIO near-duplicate detection — completes the near-dup
    * family across modalities (text qd04, embeddings qd06, video
    * mm27/mm28, audio here). Each doc carries an original take (WAV,
    * 16..23 full 50-sample windows) and a "re-master": the SAME
    * waveform gain-rescaled by (x·g)>>6 (g = 16+d%241, the loudness
    * normalization every re-upload applies), TRANSCODED to FLAC, and
    * extended by 3 trailing windows. Exact PCM fingerprints would
    * match nothing — every sample value changes under gain — so the
    * per-window fingerprint uses only the SIGN STRUCTURE, which any
    * positive gain preserves exactly: the window's 50-bit is-positive
    * pattern ([[graft.multimodal.MediaDedup.signPatternAudioFingerprint]]),
    * shingled 3 windows at a stride of 1 through the same library
    * operator as mm27/mm28 (the sign pattern's period
    * 193 is coprime to the 50-sample stride, so windows never repeat
    * within a take and the shingle-set sizes are exact closed forms).
    * The fixture waveform keeps |x| ≥ 64 and g ≥ 16 so integer
    * truncation can never collapse a sample to zero and flip the
    * invariant. Decode is REAL on both sides: the WAV path through
    * [[WavCodec]], the FLAC path through the mm22 [[FlacCodec]]
    * (container sniffed from magic bytes) — a slip in either
    * codec's sample reconstruction flips a window bit. Scale shape
    * identical to mm27: staged single decode, hash-bucketed join,
    * never all-pairs; cross-doc matches require the sign pattern's
    * BOTH coefficient classes (d mod 97 AND d mod 89) to coincide,
    * so true clusters stay tiny until corpus sizes pass ~8.6k docs. */
  /** the mm29 fixture audio */
  private val mm29Audio = {
    val W = 50
    udf { (id: Long, take: Int) =>
      val nA = 800 + (id % 10).toInt * 40
      def sgn(i: Int): Int =
        if (((id % 97 + 2) * i + (id % 89 + 3) * i.toLong * i) % 193 < 96) 1
        else -1
      def mag(i: Int): Int = 64 + ((id * 31 + i.toLong * 17) % 7000).toInt
      def wave(n: Int): Array[Short] =
        Array.tabulate(n)(i => (sgn(i) * mag(i)).toShort)
      if (take == 0) WavCodec.encode(WavCodec.Wav(16000, 1, wave(nA)))
      else {
        val g = 16 + (id % 241).toInt
        val scaled = wave(nA + 3 * W).map(v => ((v * g) >> 6).toShort)
        FlacCodec.encode(
          FlacCodec.Flac(16000, 1, 16, scaled.map(_.toInt)),
          blockSize = 256)
      }
    }
  }

  private def audioNearDup(s: SparkSession, dir: String): DataFrame = {
    val sign = MediaDedup.signPatternAudioFingerprint(50)
    nearDupPairs(s, dir, "graft_mm29", mm29Audio, bytes => {
      mm29DecodeCalls.incrementAndGet(): Unit
      sign(bytes)
    })
  }

  /** Replays the sign-structure fingerprints in closed form: gain
    * never flips a sign (|x| ≥ 64, g ≥ 16, arithmetic shift) and both
    * codecs are lossless, so BOTH takes reduce to the same sign
    * sequence — the oracle derives each window's 50-bit pattern from
    * the sign formula alone, vid 1 running 3 windows longer, then
    * reuses the shared shingle/bucket tail. Any sample-level slip in
    * the WAV/FLAC decode or the gain arithmetic on the Spark side
    * flips a bit and with it a shingle hash. The window string is
    * built by a scalar list_transform over per-WINDOW rows rather
    * than string_agg over per-SAMPLE rows: the 13.5M-row unnest shape
    * triggered a nondeterministic buffer-manager OOM in DuckDB 1.0.0
    * at sf0.1 (mm27/mm28's heavier but differently-shaped pipelines
    * are unaffected; this form is 5/5 stable). */
  private val audioNearDupSql =
    """WITH g AS (
      |  SELECT doc_id AS d, (800 + (doc_id % 10) * 40)::INT AS na
      |  FROM documents),
      |vids AS (
      |  SELECT d, 0 AS vid, (na // 50)::INT AS k FROM g
      |  UNION ALL SELECT d, 1 AS vid, (na // 50 + 3)::INT AS k FROM g),
      |fp AS (
      |  SELECT d, vid, f,
      |    array_to_string(list_transform(range(0, 50), j -> CASE WHEN
      |      ((d % 97 + 2) * (f*50 + j)
      |        + (d % 89 + 3) * (f*50 + j) * (f*50 + j)) % 193 < 96
      |      THEN '1' ELSE '0' END), '') AS s
      |  FROM (SELECT d, vid, unnest(generate_series(0, k - 1)) AS f
      |        FROM vids)),""".stripMargin + "\n" + shingleTailSql

  /** mm28: PERCEPTUAL video near-duplicate detection — mm27's exact
    * pixel fingerprints survive re-MUXES and trims but break on
    * re-ENCODES (requantization shifts every reconstructed value).
    * mm28 swaps the per-frame fingerprint for
    * [[graft.multimodal.MediaDedup.perceptualVideoFingerprint]] and
    * keeps the whole shingle/bucket operator, mirroring how qd05
    * SimHash complements qd02 MinHash for text:
    * per decoded frame, sum r+g+b per pixel, average over the 8x8
    * grid of 2x2 blocks, and emit one bit per block — is this block
    * brighter than the frame mean (exact integer compare
    * 64*blockSum > frameSum, no float, no rounding drift)? Uniform
    * requantization moves absolute values but not the
    * brighter-than-mean STRUCTURE, so the 64-bit pattern is stable
    * across QP. The fixture pins exactly that: each doc's "re-upload"
    * is the same content RE-ENCODED at a different quantizer
    * ([[graft.multimodal.h264.H264Fixtures.videoQp]], qp' = 16+(d+7)%24
    * != qp) AND extended by 3 trailing frames — decoded pixel values
    * differ on the quantized frame kinds (mm27's fingerprints would
    * find nothing), yet every doc's pair passes the same 0.4 shingle
    * Jaccard. Scale shape identical to mm27: staged single decode,
    * only (doc, vid, hash) rows cross an exchange, never all-pairs. */
  /** the mm28 fixture video */
  private val mm28Video = udf { (id: Long, take: Int) =>
    val fx = graft.multimodal.h264.H264Fixtures
    val nx = (6 + (id % 3) * 3).toInt
    if (take == 0) fx.videoQp(id, nx, fx.qpFor(id))
    else fx.videoQp(id, nx + 3, 16 + ((id + 7) % 24).toInt)
  }

  private def videoPerceptualDup(s: SparkSession, dir: String): DataFrame = {
    val phash = MediaDedup.perceptualVideoFingerprint(
      graft.pack.FrameSource.Mp4Frames)
    nearDupPairs(s, dir, "graft_mm28", mm28Video, bytes => {
      mm28DecodeCalls.incrementAndGet(): Unit
      phash(bytes)
    })
  }

  /** Replays the aHash bits in closed form: I_PCM frames (kind 0)
    * bypass quantization, so their per-pixel rgb — and therefore the
    * 2x2-block brightness pattern — is QP-independent and shared by
    * both encodes; I_16x16 / I_NxN frames reconstruct UNIFORM planes
    * at every QP, whose aHash is all-zeros by definition (no block is
    * strictly brighter than the mean). The oracle derives kind-0 bits
    * from the mm14 pixel formulas and emits the zero string for the
    * uniform kinds, then reuses the shared shingle/bucket tail. */
  private val videoPerceptualDupSql =
    """WITH g AS (
      |  SELECT doc_id AS d, (6 + (doc_id % 3) * 3)::INT AS nx
      |  FROM documents),
      |vids AS (
      |  SELECT d, 0 AS vid, nx AS n FROM g
      |  UNION ALL SELECT d, 1 AS vid, nx + 3 AS n FROM g),
      |fr AS (
      |  SELECT d, vid, unnest(generate_series(0, n - 1)) AS f
      |  FROM vids),
      |k0px AS (
      |  SELECT d, vid, f,
      |    (((i//16)//2)*8 + (i%16)//2)::INT AS blk,
      |    (d*31 + f*53 + i*7) % 251 AS yv,
      |    (d*29 + f*47 + (((i//16)//2)*8 + (i%16)//2)*11) % 251 - 128 AS u,
      |    (d*23 + f*41 + (((i//16)//2)*8 + (i%16)//2)*13) % 251 - 128 AS v
      |  FROM fr CROSS JOIN (
      |    SELECT unnest(generate_series(0, 255)) AS i) px
      |  WHERE f % 3 = 0),
      |k0b AS (
      |  SELECT d, vid, f, blk,
      |    sum(GREATEST(0, LEAST(255,
      |        yv + floor((91881*v + 32768) / 65536.0)::INT))
      |      + GREATEST(0, LEAST(255,
      |        yv - floor((22554*u + 46802*v + 32768) / 65536.0)::INT))
      |      + GREATEST(0, LEAST(255,
      |        yv + floor((116130*u + 32768) / 65536.0)::INT))
      |      )::BIGINT AS bsum
      |  FROM k0px GROUP BY d, vid, f, blk),
      |k0t AS (
      |  SELECT d, vid, f, blk, bsum,
      |    sum(bsum) OVER (PARTITION BY d, vid, f) AS tot
      |  FROM k0b),
      |k0fp AS (
      |  SELECT d, vid, f,
      |    string_agg(CASE WHEN 64*bsum > tot THEN '1' ELSE '0' END, ''
      |               ORDER BY blk) AS s
      |  FROM k0t GROUP BY d, vid, f),
      |fp AS (
      |  SELECT d, vid, f, s FROM k0fp
      |  UNION ALL
      |  SELECT d, vid, f, repeat('0', 64) AS s FROM fr
      |  WHERE f % 3 <> 0),""".stripMargin + "\n" + shingleTailSql

  /** mm14: end-to-end H.264 baseline decode gate. Each doc synthesizes
    * a real avc1 mp4 ([[graft.multimodal.h264.H264Fixtures]]: avcC
    * config + AVCC IDR samples cycling I_PCM / I_16x16 / I_NxN
    * macroblock kinds at qp 16..39), decodes EVERY frame through the
    * public [[graft.pack.FrameSource.Mp4Frames]] contract (NAL → slice
    * header → CAVLC → intra prediction → dequant/IDCT → deblock loop →
    * BT.601 RGB → png), and aggregates per-channel pixel sums per MB
    * kind. The DuckDB oracle replays the decoder's integer arithmetic
    * closed-form from (doc_id, frame) — any single wrong pixel anywhere
    * in the decode chain shifts a sum. This is the parity row for the
    * reference's kf/I-frame sampler (`pack/samplers.py:121-157`), which
    * needs exactly intra-frame decode. Scale shape: one task-local
    * decode per video, three summary rows out. */
  private def avcDecodeStats(s: SparkSession, dir: String): DataFrame = {
    val stats = udf { (id: Long) =>
      val n = (3 + id % 3).toInt
      val bytes = graft.multimodal.h264.H264Fixtures.video(id, n)
      val src = graft.pack.FrameSource.Mp4Frames
      (0 until n).map { f =>
        val img = src.frameImage(bytes, f)
        var rs = 0L; var gs = 0L; var bs = 0L
        var i = 0
        while (i < img.data.length) {
          rs += img.data(i) & 0xff
          gs += img.data(i + 1) & 0xff
          bs += img.data(i + 2) & 0xff
          i += 3
        }
        (f % 3, rs, gs, bs)
      }
    }
    Tables(s, dir).documents
      .select(col("doc_id"))
      // explicit-count repartition: the id shuffle is a few KB, so
      // AQE would coalesce to one partition and serialize the
      // compute-bound per-row decode (see mm22's measured 10x)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(explode(stats(col("doc_id"))).as("st"))
      .select(col("st._1").as("kind"), col("st._2").as("rs"),
        col("st._3").as("gs"), col("st._4").as("bs"))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_frames"),
        sum(col("rs")).cast("long").as("r_sum"),
        sum(col("gs")).cast("long").as("g_sum"),
        sum(col("bs")).cast("long").as("b_sum"))
      .orderBy(col("kind"))
  }

  /** Replays H264Fixtures' closed-form decode truth: qp/chroma-qp
    * tables, dequant shifts, DC reconstruction, and the BT.601
    * integer YUV→RGB (arithmetic >>16 = floor-div 65536). */
  private val avcDecodeStatsSql =
    """WITH g AS (
      |  SELECT doc_id AS d, (3 + doc_id % 3)::INT AS n,
      |    (16 + doc_id % 24)::INT AS qp
      |  FROM documents),
      |fr AS (
      |  SELECT d, qp, unnest(generate_series(0, n - 1)) AS f FROM g),
      |q AS (
      |  SELECT d, f, qp, (f % 3)::INT AS kind,
      |    [10,11,13,14,16,18][qp % 6 + 1] AS v6,
      |    CASE WHEN qp < 30 THEN qp
      |         ELSE [29,30,31,32,32,33,34,34,35,35][qp - 29] END AS qpc
      |  FROM fr),
      |q2 AS (
      |  SELECT *, [10,11,13,14,16,18][qpc % 6 + 1] AS vc FROM q),
      |k0px AS (
      |  SELECT d, f,
      |    (d*31 + f*53 + i*7) % 251 AS yv,
      |    (d*29 + f*47 + (((i//16)//2)*8 + (i%16)//2)*11) % 251 - 128 AS u,
      |    (d*23 + f*41 + (((i//16)//2)*8 + (i%16)//2)*13) % 251 - 128 AS v
      |  FROM q2 CROSS JOIN (
      |    SELECT unnest(generate_series(0, 255)) AS i) px
      |  WHERE kind = 0),
      |k0 AS (
      |  SELECT d, f, 0 AS kind,
      |    sum(GREATEST(0, LEAST(255,
      |      yv + floor((91881*v + 32768) / 65536.0)::INT)))::BIGINT AS rs,
      |    sum(GREATEST(0, LEAST(255,
      |      yv - floor((22554*u + 46802*v + 32768) / 65536.0)::INT
      |      )))::BIGINT AS gs,
      |    sum(GREATEST(0, LEAST(255,
      |      yv + floor((116130*u + 32768) / 65536.0)::INT)))::BIGINT AS bs
      |  FROM k0px GROUP BY d, f),
      |k1a AS (
      |  SELECT d, f, qp, qpc, v6, vc,
      |    (1 + (d + f) % 5)::INT AS ly,
      |    ((d + f) % 3)::INT AS lcb,
      |    ((d + 2*f) % 3)::INT AS lcr
      |  FROM q2 WHERE kind = 1),
      |k1b AS (
      |  SELECT d, f,
      |    GREATEST(0, LEAST(255, 128 +
      |      (CASE WHEN qp >= 36 THEN ly * v6
      |            ELSE (ly*v6 + (1 << (5 - qp//6))) // (1 << (6 - qp//6))
      |       END + 32) // 64)) AS yv,
      |    GREATEST(0, LEAST(255, 128 +
      |      ((lcb*vc*(1 << (qpc//6))) // 32 + 32) // 64)) - 128 AS u,
      |    GREATEST(0, LEAST(255, 128 +
      |      ((lcr*vc*(1 << (qpc//6))) // 32 + 32) // 64)) - 128 AS v
      |  FROM k1a),
      |k1 AS (
      |  SELECT d, f, 1 AS kind,
      |    256 * GREATEST(0, LEAST(255,
      |      yv + floor((91881*v + 32768) / 65536.0)::INT))::BIGINT AS rs,
      |    256 * GREATEST(0, LEAST(255,
      |      yv - floor((22554*u + 46802*v + 32768) / 65536.0)::INT
      |      ))::BIGINT AS gs,
      |    256 * GREATEST(0, LEAST(255,
      |      yv + floor((116130*u + 32768) / 65536.0)::INT))::BIGINT AS bs
      |  FROM k1b),
      |k2 AS (
      |  SELECT d, f, 2 AS kind,
      |    256 * GREATEST(0, LEAST(255, 128 +
      |      ((1 + (d*3 + f) % 5) * v6 * (1 << (qp//6)) + 32) // 64
      |      ))::BIGINT AS rs,
      |    256 * GREATEST(0, LEAST(255, 128 +
      |      ((1 + (d*3 + f) % 5) * v6 * (1 << (qp//6)) + 32) // 64
      |      ))::BIGINT AS gs,
      |    256 * GREATEST(0, LEAST(255, 128 +
      |      ((1 + (d*3 + f) % 5) * v6 * (1 << (qp//6)) + 32) // 64
      |      ))::BIGINT AS bs
      |  FROM q2 WHERE kind = 2),
      |allk AS (
      |  SELECT * FROM k0 UNION ALL SELECT * FROM k1
      |  UNION ALL SELECT * FROM k2)
      |SELECT kind, count(*) AS n_frames,
      |  sum(rs)::BIGINT AS r_sum, sum(gs)::BIGINT AS g_sum,
      |  sum(bs)::BIGINT AS b_sum
      |FROM allk GROUP BY kind ORDER BY kind""".stripMargin

  /** mm16: H.264 INTER (P-slice) decode gate — the uniform-sampler
    * parity path (`pack/samplers.py:102-119` + `pack/dataset.py:102-108`
    * decode arbitrary segment-center frames via decord; most of those
    * frames are P in real video). Each doc synthesizes a GOP-structured
    * avc1 mp4 ([[graft.multimodal.h264.H264Fixtures.videoGop]]: IDR
    * every 4th frame, then a coded-residual P, a whole-picture P_Skip,
    * and a nonzero quarter-pel-MV P), then decodes EVERY frame through
    * the public [[graft.pack.FrameSource.Mp4Frames]] contract — which
    * must seek to the sync sample and motion-compensate forward — and
    * aggregates per-channel pixel sums per GOP position. The DuckDB
    * oracle replays the whole integer chain (dequant, inter delta,
    * BT.601) closed-form; one wrong pixel in MC/MV-pred/skip/deblock
    * shifts a sum. Scale shape: per-video task-local decode, 4 summary
    * rows out. */
  private def avcInterDecode(s: SparkSession, dir: String): DataFrame = {
    val stats = udf { (id: Long) =>
      val n = (9 + id % 4).toInt
      val bytes = graft.multimodal.h264.H264Fixtures.videoGop(id, n)
      val src = graft.pack.FrameSource.Mp4Frames
      (0 until n).map { f =>
        val img = src.frameImage(bytes, f)
        var rs = 0L; var gs = 0L; var bs = 0L
        var i = 0
        while (i < img.data.length) {
          rs += img.data(i) & 0xff
          gs += img.data(i + 1) & 0xff
          bs += img.data(i + 2) & 0xff
          i += 3
        }
        (f % 4, rs, gs, bs)
      }
    }
    Tables(s, dir).documents
      .select(col("doc_id"))
      // explicit-count repartition: the id shuffle is a few KB, so
      // AQE would coalesce to one partition and serialize the
      // compute-bound per-row decode (see mm22's measured 10x)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(explode(stats(col("doc_id"))).as("st"))
      .select(col("st._1").as("gop_pos"), col("st._2").as("rs"),
        col("st._3").as("gs"), col("st._4").as("bs"))
      .groupBy(col("gop_pos"))
      .agg(count(lit(1)).as("n_frames"),
        sum(col("rs")).cast("long").as("r_sum"),
        sum(col("gs")).cast("long").as("g_sum"),
        sum(col("bs")).cast("long").as("b_sum"))
      .orderBy(col("gop_pos"))
  }

  /** Replays videoGop's closed-form decode truth: the IDR (kind-1
    * i16) uniform values, the P-delta's inter residual
    * ((lp·V)<<(qp/6)+32)>>6, copy semantics for P_Skip and the MV
    * frame, and the BT.601 integer YUV→RGB. */
  private val avcInterDecodeSql =
    """WITH g AS (
      |  SELECT doc_id AS d, (9 + doc_id % 4)::INT AS n,
      |    (16 + doc_id % 24)::INT AS qp
      |  FROM documents),
      |fr AS (
      |  SELECT d, qp, unnest(generate_series(0, n - 1)) AS f FROM g),
      |q AS (
      |  SELECT d, f, qp, (f % 4)::INT AS g4, (f - f % 4)::INT AS fi,
      |    [10,11,13,14,16,18][qp % 6 + 1] AS v6,
      |    CASE WHEN qp < 30 THEN qp
      |         ELSE [29,30,31,32,32,33,34,34,35,35][qp - 29] END AS qpc
      |  FROM fr),
      |q2 AS (
      |  SELECT *, [10,11,13,14,16,18][qpc % 6 + 1] AS vc,
      |    (1 + (d + fi) % 5)::INT AS ly,
      |    ((d + fi) % 3)::INT AS lcb,
      |    ((d + 2*fi) % 3)::INT AS lcr,
      |    (1 + d % 2)::INT AS lp
      |  FROM q),
      |uv AS (
      |  SELECT d, f, g4,
      |    GREATEST(0, LEAST(255,
      |      (CASE WHEN qp >= 36 THEN ly * v6
      |            ELSE (ly*v6 + (1 << (5 - qp//6))) // (1 << (6 - qp//6))
      |       END + 32) // 64 + 128
      |      + CASE WHEN g4 = 0 THEN 0
      |             ELSE (lp * v6 * (1 << (qp//6)) + 32) // 64 END)) AS yv,
      |    GREATEST(0, LEAST(255, 128 +
      |      ((lcb*vc*(1 << (qpc//6))) // 32 + 32) // 64)) - 128 AS u,
      |    GREATEST(0, LEAST(255, 128 +
      |      ((lcr*vc*(1 << (qpc//6))) // 32 + 32) // 64)) - 128 AS v
      |  FROM q2)
      |SELECT g4 AS gop_pos, count(*) AS n_frames,
      |  sum(256 * GREATEST(0, LEAST(255,
      |    yv + floor((91881*v + 32768) / 65536.0)::INT)))::BIGINT AS r_sum,
      |  sum(256 * GREATEST(0, LEAST(255,
      |    yv - floor((22554*u + 46802*v + 32768) / 65536.0)::INT
      |    )))::BIGINT AS g_sum,
      |  sum(256 * GREATEST(0, LEAST(255,
      |    yv + floor((116130*u + 32768) / 65536.0)::INT)))::BIGINT AS b_sum
      |FROM uv GROUP BY g4 ORDER BY gop_pos""".stripMargin

  /** mm17: MULTI-SLICE H.264 decode gate. Real streams carry several
    * slices per picture (encoder parallelism); each doc synthesizes a
    * two-slice avc1 fixture ([[graft.multimodal.h264.H264Fixtures
    * .videoSlices]]: one slice per MB, IDR/P alternating) and decodes
    * every frame through Mp4Frames. Slice-local neighbor availability
    * (6.4.9) is what the oracle pins: each MB's intra DC must predict
    * 128 (NOT the cross-slice neighbor), making both MBs closed-form
    * uniform; a decoder that leaks availability across the slice
    * boundary, desyncs CAVLC nC contexts, or mis-routes the per-slice
    * skip runs shifts a sum. */
  private def avcSliceDecode(s: SparkSession, dir: String): DataFrame = {
    val stats = udf { (id: Long) =>
      val n = (4 + id % 3).toInt
      val bytes = graft.multimodal.h264.H264Fixtures.videoSlices(id, n)
      val src = graft.pack.FrameSource.Mp4Frames
      (0 until n).map { f =>
        val img = src.frameImage(bytes, f)
        var rs = 0L; var gs = 0L; var bs = 0L
        var i = 0
        while (i < img.data.length) {
          rs += img.data(i) & 0xff
          gs += img.data(i + 1) & 0xff
          bs += img.data(i + 2) & 0xff
          i += 3
        }
        (f % 2, rs, gs, bs)
      }
    }
    Tables(s, dir).documents
      .select(col("doc_id"))
      // explicit-count repartition: the id shuffle is a few KB, so
      // AQE would coalesce to one partition and serialize the
      // compute-bound per-row decode (see mm22's measured 10x)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(explode(stats(col("doc_id"))).as("st"))
      .select(col("st._1").as("frame_parity"), col("st._2").as("rs"),
        col("st._3").as("gs"), col("st._4").as("bs"))
      .groupBy(col("frame_parity"))
      .agg(count(lit(1)).as("n_frames"),
        sum(col("rs")).cast("long").as("r_sum"),
        sum(col("gs")).cast("long").as("g_sum"),
        sum(col("bs")).cast("long").as("b_sum"))
      .orderBy(col("frame_parity"))
  }

  /** uncoded chroma (128) makes BT.601 the identity, so every channel
    * sum is 256·(v0+v1) from the two slices' closed-form MB values */
  private val avcSliceDecodeSql =
    """WITH g AS (
      |  SELECT doc_id AS d, (4 + doc_id % 3)::INT AS n,
      |    (16 + doc_id % 24)::INT AS qp
      |  FROM documents),
      |fr AS (
      |  SELECT d, qp, unnest(generate_series(0, n - 1)) AS f FROM g),
      |q AS (
      |  SELECT d, f, qp, (f % 2)::INT AS par, (f - f % 2)::INT AS fi,
      |    [10,11,13,14,16,18][qp % 6 + 1] AS v6
      |  FROM fr),
      |vals AS (
      |  SELECT d, f, par,
      |    GREATEST(0, LEAST(255, 128 +
      |      (CASE WHEN qp >= 36 THEN (1 + (d + fi) % 5) * v6
      |            ELSE ((1 + (d + fi) % 5) * v6 + (1 << (5 - qp//6)))
      |                 // (1 << (6 - qp//6)) END + 32) // 64)) AS v0,
      |    GREATEST(0, LEAST(255, 128 +
      |      (CASE WHEN qp >= 36 THEN (1 + (d + 2*fi) % 5) * v6
      |            ELSE ((1 + (d + 2*fi) % 5) * v6 + (1 << (5 - qp//6)))
      |                 // (1 << (6 - qp//6)) END + 32) // 64
      |      + CASE WHEN par = 0 THEN 0
      |             ELSE ((1 + d % 2) * v6 * (1 << (qp//6)) + 32) // 64
      |        END)) AS v1
      |  FROM q)
      |SELECT par AS frame_parity, count(*) AS n_frames,
      |  sum(256 * (v0 + v1))::BIGINT AS r_sum,
      |  sum(256 * (v0 + v1))::BIGINT AS g_sum,
      |  sum(256 * (v0 + v1))::BIGINT AS b_sum
      |FROM vals GROUP BY par ORDER BY frame_parity""".stripMargin

  /** mm18: MULTI-REFERENCE / DPB-PROTOCOL H.264 decode gate, three
    * fixtures per doc tagged 0/1/2:
    *
    *  - 0 [[graft.multimodal.h264.H264Fixtures.videoMultiRef]]: 2-ref
    *    sliding window, per-partition ref_idx reaching PAST the most
    *    recent picture — wrong list-0 order shifts GOP positions 2/3.
    *  - 1 [[graft.multimodal.h264.H264Fixtures.videoModList]]:
    *    ref_pic_list_modification (8.2.4.3) pulls an older PicNum to
    *    the list head — a parse-and-ignore decoder SWAPS g2/g3 values.
    *  - 2 [[graft.multimodal.h264.H264Fixtures.videoMmco]]: adaptive
    *    dec_ref_pic_marking by d%3 — MMCO op 1 (short-term unmark),
    *    op 3 (convert to LONG-TERM, exempt from the window), and op 5
    *    (full reset re-basing frame_num/POC) change which picture a
    *    later ref_idx or modification PicNum resolves to vs a pure
    *    sliding-window walk.
    *
    * All decode through Mp4Frames (full container walk). Chroma is
    * uncoded (128) throughout, so BT.601 is the identity and each
    * channel sum is 256·yv closed-form. */
  private def avcMultiRefDecode(s: SparkSession, dir: String): DataFrame = {
    val stats = udf { (id: Long) =>
      val src = graft.pack.FrameSource.Mp4Frames
      def sums(bytes: Array[Byte], n: Int, gop: Int, fixture: Int) =
        (0 until n).map { f =>
          val img = src.frameImage(bytes, f)
          var rs = 0L; var gs = 0L; var bs = 0L
          var i = 0
          while (i < img.data.length) {
            rs += img.data(i) & 0xff
            gs += img.data(i + 1) & 0xff
            bs += img.data(i + 2) & 0xff
            i += 3
          }
          (fixture, f % gop, rs, gs, bs)
        }
      val fx = graft.multimodal.h264.H264Fixtures
      val n0 = (9 + id % 4).toInt
      val n1 = (8 + 4 * (id % 2)).toInt
      val n2 = (10 + 5 * (id % 2)).toInt
      sums(fx.videoMultiRef(id, n0), n0, 4, 0) ++
        sums(fx.videoModList(id, n1), n1, 4, 1) ++
        sums(fx.videoMmco(id, n2), n2, 5, 2)
    }
    Tables(s, dir).documents
      .select(col("doc_id"))
      // explicit-count repartition: the id shuffle is a few KB, so
      // AQE would coalesce to one partition and serialize the
      // compute-bound per-row decode (see mm22's measured 10x)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(explode(stats(col("doc_id"))).as("st"))
      .select(col("st._1").as("fixture"), col("st._2").as("gop_pos"),
        col("st._3").as("rs"), col("st._4").as("gs"),
        col("st._5").as("bs"))
      .groupBy(col("fixture"), col("gop_pos"))
      .agg(count(lit(1)).as("n_frames"),
        sum(col("rs")).cast("long").as("r_sum"),
        sum(col("gs")).cast("long").as("g_sum"),
        sum(col("bs")).cast("long").as("b_sum"))
      .orderBy(col("fixture"), col("gop_pos"))
  }

  /** Replays the three fixtures' closed-form truths. Fixture 0
    * (multiref): g0/g2 the uniform I_16x16 value, g1/g3 the PCM byte.
    * Fixture 1 (mod-list): g0/g2 → ia (g2 only if the modification
    * re-headed list 0 to the IDR), g1/g3 → vb. Fixture 2 (MMCO):
    * g0/g3/g4 → ia (g3/g4 only if marking removed — or long-term-
    * protected — the right pictures), g1/g2 → salted PCM bytes.
    * Chroma 128 everywhere makes every channel equal. */
  private val avcMultiRefDecodeSql =
    """WITH g AS (
      |  SELECT doc_id AS d, (16 + doc_id % 24)::INT AS qp
      |  FROM documents),
      |fr AS (
      |  SELECT d, qp, 0 AS fixture, 4 AS gop,
      |    unnest(generate_series(0, (9 + d % 4)::INT - 1)) AS f FROM g
      |  UNION ALL
      |  SELECT d, qp, 1 AS fixture, 4 AS gop,
      |    unnest(generate_series(0, (8 + 4 * (d % 2))::INT - 1)) AS f FROM g
      |  UNION ALL
      |  SELECT d, qp, 2 AS fixture, 5 AS gop,
      |    unnest(generate_series(0, (10 + 5 * (d % 2))::INT - 1)) AS f FROM g),
      |q AS (
      |  SELECT d, f, qp, fixture, (f % gop)::INT AS gp,
      |    (f - f % gop)::INT AS fi,
      |    [10,11,13,14,16,18][qp % 6 + 1] AS v6
      |  FROM fr),
      |q2 AS (
      |  SELECT *,
      |    GREATEST(0, LEAST(255, 128 +
      |      (CASE WHEN qp >= 36 THEN (1 + (d + fi) % 5) * v6
      |            ELSE ((1 + (d + fi) % 5) * v6 + (1 << (5 - qp//6)))
      |                 // (1 << (6 - qp//6)) END + 32) // 64)) AS ia
      |  FROM q),
      |vals AS (
      |  SELECT d, f, fixture, gp,
      |    CASE
      |      WHEN fixture = 0 THEN
      |        CASE WHEN gp IN (0, 2) THEN ia
      |             ELSE (16 + (d * 37 + fi * 19) % 224) END
      |      WHEN fixture = 1 THEN
      |        CASE WHEN gp IN (0, 2) THEN ia
      |             ELSE (16 + (d * 37 + fi * 19) % 224) END
      |      ELSE
      |        CASE WHEN gp = 0 THEN ia
      |             WHEN gp IN (1, 2) THEN
      |               (16 + (d * 37 + (fi + gp) * 19) % 224)
      |             WHEN d % 3 = 2 THEN
      |               (16 + (d * 37 + (fi + 2) * 19) % 224)
      |             ELSE ia END
      |    END AS yv
      |  FROM q2)
      |SELECT fixture, gp AS gop_pos, count(*) AS n_frames,
      |  sum(256 * yv)::BIGINT AS r_sum,
      |  sum(256 * yv)::BIGINT AS g_sum,
      |  sum(256 * yv)::BIGINT AS b_sum
      |FROM vals GROUP BY fixture, gp ORDER BY fixture, gop_pos""".stripMargin

  /** mm19: WEIGHTED-PREDICTION H.264 decode gate (8.4.2.3), three
    * fixtures per doc tagged 0/1/2:
    *
    *  - 0 [[graft.multimodal.h264.H264Fixtures.videoWeighted]]:
    *    P-slice explicit pred_weight_table (the fade tool), luma
    *    ((v·wy+16)>>5)+oy plus chroma weights off neutral.
    *  - 1 [[graft.multimodal.h264.H264Fixtures.videoWeightedB]]:
    *    weighted_bipred_idc 1 — B slices with BOTH lists' weight
    *    tables, cycling Bi (the (logWD+1) combine), L0-only and
    *    L1-only weighted prediction.
    *  - 2 [[graft.multimodal.h264.H264Fixtures.videoImplicitB]]:
    *    weighted_bipred_idc 2 — implicit POC-derived weights on an
    *    off-center B (w0 43, w1 21), which differ from the 32/32
    *    average a naive decoder would produce.
    *
    * The oracle replays the weight arithmetic AND the full BT.601
    * matrix with live chroma terms; one wrong rounding constant, a
    * luma/chroma denom mixup, or a swapped list table shifts a
    * channel sum. `pos` is f%2 (fixture 0) or the display triad
    * position f%3 (fixtures 1/2). */
  private def avcWeightedDecode(s: SparkSession, dir: String): DataFrame = {
    val stats = udf { (id: Long) =>
      val src = graft.pack.FrameSource.Mp4Frames
      def sums(bytes: Array[Byte], n: Int, gop: Int, fixture: Int) =
        (0 until n).map { f =>
          val img = src.frameImage(bytes, f)
          var rs = 0L; var gs = 0L; var bs = 0L
          var i = 0
          while (i < img.data.length) {
            rs += img.data(i) & 0xff
            gs += img.data(i + 1) & 0xff
            bs += img.data(i + 2) & 0xff
            i += 3
          }
          (fixture, f % gop, rs, gs, bs)
        }
      val fx = graft.multimodal.h264.H264Fixtures
      val n0 = (8 + id % 5).toInt
      val n1 = (9 + 3 * (id % 3)).toInt
      sums(fx.videoWeighted(id, n0), n0, 2, 0) ++
        sums(fx.videoWeightedB(id, n1), n1, 3, 1) ++
        sums(fx.videoImplicitB(id, n1), n1, 3, 2)
    }
    Tables(s, dir).documents
      .select(col("doc_id"))
      // explicit-count repartition: the id shuffle is a few KB, so
      // AQE would coalesce to one partition and serialize the
      // compute-bound per-row decode (see mm22's measured 10x)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(explode(stats(col("doc_id"))).as("st"))
      .select(col("st._1").as("fixture"), col("st._2").as("pos"),
        col("st._3").as("rs"), col("st._4").as("gs"),
        col("st._5").as("bs"))
      .groupBy(col("fixture"), col("pos"))
      .agg(count(lit(1)).as("n_frames"),
        sum(col("rs")).cast("long").as("r_sum"),
        sum(col("gs")).cast("long").as("g_sum"),
        sum(col("bs")).cast("long").as("b_sum"))
      .orderBy(col("fixture"), col("pos"))
  }

  /** Replays the three fixtures' closed forms: fixture 0's odd-frame
    * P weighting, fixture 1's B-slice explicit weighting (Bi combine
    * at (logWD+1), single-list L0/L1 at logWD), fixture 2's implicit
    * 43/21 POC weights — then BT.601 integer RGB with live chroma
    * terms on the weighted rows. l0 weight params are shared between
    * fixtures 0 and 1 by construction. */
  private val avcWeightedDecodeSql =
    """WITH g AS (
      |  SELECT doc_id AS d, (16 + doc_id % 24)::INT AS qp
      |  FROM documents),
      |fr AS (
      |  SELECT d, qp, 0 AS fixture,
      |    unnest(generate_series(0, (8 + d % 5)::INT - 1)) AS f FROM g
      |  UNION ALL
      |  SELECT d, qp, 1 AS fixture,
      |    unnest(generate_series(0, (9 + 3 * (d % 3))::INT - 1)) AS f FROM g
      |  UNION ALL
      |  SELECT d, qp, 2 AS fixture,
      |    unnest(generate_series(0, (9 + 3 * (d % 3))::INT - 1)) AS f FROM g),
      |q AS (
      |  SELECT d, f, qp, fixture,
      |    (CASE WHEN fixture = 0 THEN f % 2 ELSE f % 3 END)::INT AS pos,
      |    (CASE WHEN fixture = 0 THEN f - f % 2
      |          ELSE 3 * (f // 3) END)::INT AS fi,
      |    ((f // 3) % 3)::INT AS tk,
      |    [10,11,13,14,16,18][qp % 6 + 1] AS v6,
      |    (20 + d % 25)::INT AS w0y, (d % 11 - 5)::INT AS o0y,
      |    (20 + (3*d) % 25)::INT AS w1y, ((2*d) % 11 - 5)::INT AS o1y,
      |    (56 + d % 16)::INT AS w0cb, (d % 7 - 3)::INT AS o0cb,
      |    (56 + (2*d) % 16)::INT AS w0cr, (d % 5 - 2)::INT AS o0cr,
      |    (56 + (3*d) % 16)::INT AS w1cb, ((2*d) % 7 - 3)::INT AS o1cb,
      |    (56 + (5*d) % 16)::INT AS w1cr, ((3*d) % 5 - 2)::INT AS o1cr
      |  FROM fr),
      |q2 AS (
      |  SELECT *,
      |    GREATEST(0, LEAST(255, 128 +
      |      (CASE WHEN qp >= 36 THEN (1 + (d + fi) % 5) * v6
      |            ELSE ((1 + (d + fi) % 5) * v6 + (1 << (5 - qp//6)))
      |                 // (1 << (6 - qp//6)) END + 32) // 64)) AS ia,
      |    (16 + (d * 37 + fi * 19) % 224)::INT AS vb
      |  FROM q),
      |uv AS (
      |  SELECT d, f, fixture, pos,
      |    CASE
      |      WHEN fixture = 2 THEN
      |        CASE WHEN pos = 0 THEN ia WHEN pos = 2 THEN vb
      |             ELSE GREATEST(0, LEAST(255,
      |               (ia*43 + vb*21 + 32) // 64)) END
      |      WHEN fixture = 1 THEN
      |        CASE WHEN pos = 0 THEN ia WHEN pos = 2 THEN vb
      |             WHEN tk = 0 THEN GREATEST(0, LEAST(255,
      |               (ia*w0y + vb*w1y + 32) // 64 + floor((o0y+o1y+1) / 2.0)::INT))
      |             WHEN tk = 1 THEN GREATEST(0, LEAST(255,
      |               (ia*w0y + 16) // 32 + o0y))
      |             ELSE GREATEST(0, LEAST(255,
      |               (vb*w1y + 16) // 32 + o1y)) END
      |      ELSE
      |        CASE WHEN pos = 0 THEN ia
      |             ELSE GREATEST(0, LEAST(255, (ia*w0y + 16) // 32 + o0y))
      |        END
      |    END AS yv,
      |    CASE
      |      WHEN fixture = 1 AND pos = 1 THEN
      |        CASE WHEN tk = 0 THEN GREATEST(0, LEAST(255,
      |               (128*w0cb + 128*w1cb + 64) // 128 + floor((o0cb+o1cb+1) / 2.0)::INT))
      |             WHEN tk = 1 THEN GREATEST(0, LEAST(255,
      |               (128*w0cb + 32) // 64 + o0cb))
      |             ELSE GREATEST(0, LEAST(255,
      |               (128*w1cb + 32) // 64 + o1cb)) END - 128
      |      WHEN fixture = 0 AND pos = 1 THEN
      |        GREATEST(0, LEAST(255, (128*w0cb + 32) // 64 + o0cb)) - 128
      |      ELSE 0
      |    END AS u,
      |    CASE
      |      WHEN fixture = 1 AND pos = 1 THEN
      |        CASE WHEN tk = 0 THEN GREATEST(0, LEAST(255,
      |               (128*w0cr + 128*w1cr + 64) // 128 + floor((o0cr+o1cr+1) / 2.0)::INT))
      |             WHEN tk = 1 THEN GREATEST(0, LEAST(255,
      |               (128*w0cr + 32) // 64 + o0cr))
      |             ELSE GREATEST(0, LEAST(255,
      |               (128*w1cr + 32) // 64 + o1cr)) END - 128
      |      WHEN fixture = 0 AND pos = 1 THEN
      |        GREATEST(0, LEAST(255, (128*w0cr + 32) // 64 + o0cr)) - 128
      |      ELSE 0
      |    END AS v
      |  FROM q2)
      |SELECT fixture, pos, count(*) AS n_frames,
      |  sum(256 * GREATEST(0, LEAST(255,
      |    yv + floor((91881*v + 32768) / 65536.0)::INT)))::BIGINT AS r_sum,
      |  sum(256 * GREATEST(0, LEAST(255,
      |    yv - floor((22554*u + 46802*v + 32768) / 65536.0)::INT
      |    )))::BIGINT AS g_sum,
      |  sum(256 * GREATEST(0, LEAST(255,
      |    yv + floor((116130*u + 32768) / 65536.0)::INT)))::BIGINT AS b_sum
      |FROM uv GROUP BY fixture, pos ORDER BY fixture, pos""".stripMargin

  /** mm20: B-FRAME H.264 decode gate. Each doc synthesizes a
    * reordered GOP fixture ([[graft.multimodal.h264.H264Fixtures
    * .videoB]]: decode-order [IDR, P, B] triads displayed [IDR, B, P]
    * via ctts; the non-reference B cycles L0-copy / L1-copy /
    * bi-average / B_Skip-direct) and decodes every DISPLAY frame
    * through Mp4Frames — which must map display→decode order, build
    * POC-ordered reference lists (list0 = [IDR, P], list1 = [P,
    * IDR]), and average bi-predictions exactly. A decoder that
    * ignores ctts, mis-orders a list, or mis-rounds the average lands
    * on the wrong uniform value at display positions 1 and 2 and
    * shifts a sum. */
  private def avcBFrameDecode(s: SparkSession, dir: String): DataFrame = {
    val stats = udf { (id: Long) =>
      val n = (9 + 3 * (id % 3)).toInt
      val bytes = graft.multimodal.h264.H264Fixtures.videoB(id, n)
      val src = graft.pack.FrameSource.Mp4Frames
      (0 until n).map { f =>
        val img = src.frameImage(bytes, f)
        var rs = 0L; var gs = 0L; var bs = 0L
        var i = 0
        while (i < img.data.length) {
          rs += img.data(i) & 0xff
          gs += img.data(i + 1) & 0xff
          bs += img.data(i + 2) & 0xff
          i += 3
        }
        (f % 3, rs, gs, bs)
      }
    }
    Tables(s, dir).documents
      .select(col("doc_id"))
      // explicit-count repartition: the id shuffle is a few KB, so
      // AQE would coalesce to one partition and serialize the
      // compute-bound per-row decode (see mm22's measured 10x)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(explode(stats(col("doc_id"))).as("st"))
      .select(col("st._1").as("triad_pos"), col("st._2").as("rs"),
        col("st._3").as("gs"), col("st._4").as("bs"))
      .groupBy(col("triad_pos"))
      .agg(count(lit(1)).as("n_frames"),
        sum(col("rs")).cast("long").as("r_sum"),
        sum(col("gs")).cast("long").as("g_sum"),
        sum(col("bs")).cast("long").as("b_sum"))
      .orderBy(col("triad_pos"))
  }

  /** Replays videoB's closed forms per DISPLAY index: position 0 the
    * I_16x16 uniform, position 2 the P's PCM byte, position 1 the B —
    * L0-copy / L1-copy / rounded bi-average by triad index. Chroma
    * 128 everywhere makes every channel equal. */
  private val avcBFrameDecodeSql =
    """WITH g AS (
      |  SELECT doc_id AS d, (9 + 3 * (doc_id % 3))::INT AS n,
      |    (16 + doc_id % 24)::INT AS qp
      |  FROM documents),
      |fr AS (
      |  SELECT d, qp, unnest(generate_series(0, n - 1)) AS f FROM g),
      |q AS (
      |  SELECT d, f, qp, (f % 3)::INT AS pos, (f // 3)::INT AS t,
      |    [10,11,13,14,16,18][qp % 6 + 1] AS v6
      |  FROM fr),
      |q2 AS (
      |  SELECT *,
      |    GREATEST(0, LEAST(255, 128 +
      |      (CASE WHEN qp >= 36 THEN (1 + (d + 3*t) % 5) * v6
      |            ELSE ((1 + (d + 3*t) % 5) * v6 + (1 << (5 - qp//6)))
      |                 // (1 << (6 - qp//6)) END + 32) // 64)) AS ia,
      |    (16 + (d * 37 + 3*t * 19) % 224)::INT AS vb
      |  FROM q),
      |vals AS (
      |  SELECT d, f, pos,
      |    CASE WHEN pos = 0 THEN ia
      |         WHEN pos = 2 THEN vb
      |         WHEN t % 4 = 0 THEN ia
      |         WHEN t % 4 = 1 THEN vb
      |         ELSE (ia + vb + 1) // 2 END AS yv
      |  FROM q2)
      |SELECT pos AS triad_pos, count(*) AS n_frames,
      |  sum(256 * yv)::BIGINT AS r_sum,
      |  sum(256 * yv)::BIGINT AS g_sum,
      |  sum(256 * yv)::BIGINT AS b_sum
      |FROM vals GROUP BY pos ORDER BY triad_pos""".stripMargin

  /** mm21: FRAGMENTED-MP4 decode gate. Streaming-origin corpora carry
    * fMP4 (empty stbl; samples live in moof/trun runs with
    * default-base-is-moof offsets, trex defaults, and trun-carried
    * sync flags). Each doc re-containers its mm16 GOP fixture
    * fragmented and decodes every frame through Mp4Frames — the
    * closed form is mm16's verbatim, so any container-walk slip
    * (offset base, fragment boundary, sync-flag bit) shifts a sum. */
  private def avcFmp4Decode(s: SparkSession, dir: String): DataFrame = {
    val stats = udf { (id: Long) =>
      val n = (9 + id % 4).toInt
      val bytes =
        graft.multimodal.h264.H264Fixtures.videoGopFragmented(id, n)
      val src = graft.pack.FrameSource.Mp4Frames
      (0 until n).map { f =>
        val img = src.frameImage(bytes, f)
        var rs = 0L; var gs = 0L; var bs = 0L
        var i = 0
        while (i < img.data.length) {
          rs += img.data(i) & 0xff
          gs += img.data(i + 1) & 0xff
          bs += img.data(i + 2) & 0xff
          i += 3
        }
        (f % 4, rs, gs, bs)
      }
    }
    Tables(s, dir).documents
      .select(col("doc_id"))
      // explicit-count repartition: the id shuffle is a few KB, so
      // AQE would coalesce to one partition and serialize the
      // compute-bound per-row decode (see mm22's measured 10x)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(explode(stats(col("doc_id"))).as("st"))
      .select(col("st._1").as("gop_pos"), col("st._2").as("rs"),
        col("st._3").as("gs"), col("st._4").as("bs"))
      .groupBy(col("gop_pos"))
      .agg(count(lit(1)).as("n_frames"),
        sum(col("rs")).cast("long").as("r_sum"),
        sum(col("gs")).cast("long").as("g_sum"),
        sum(col("bs")).cast("long").as("b_sum"))
      .orderBy(col("gop_pos"))
  }

  /** mm22: FLAC decode gate — the lossless compressed-audio format
    * real corpora carry next to WAV (the reference decodes via
    * ffmpeg; [[graft.multimodal.FlacCodec]] is the pure-JVM path).
    * Each doc synthesizes a deterministic stereo waveform, encodes it
    * MID/SIDE (the fullest decode path: decorrelation + fixed
    * prediction + Rice partitions), decodes, and reports per-channel
    * sums. FLAC is LOSSLESS, so the oracle replays the waveform
    * formula directly — one wrong sample anywhere in bit I/O,
    * prediction, Rice, or stereo reconstruction shifts a sum. */
  private def flacDecode(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{Encoder, Encoders}
    implicit val enc: Encoder[FlacRow] = Encoders.product[FlacRow]
    // typed mapPartitions: the codec runs exactly ONCE per row (a udf
    // projected into several fields can be re-evaluated per field).
    // The repartition carries an EXPLICIT partition count: the shuffle
    // data is a few KB of ids, so AQE's coalescer would otherwise
    // merge it to ONE partition and serialize the compute-bound
    // encode/decode stage (measured 10.6 s -> 0.9 s at sf0.1). The
    // compute-per-byte-of-shuffle asymmetry is the general trap for
    // decode stages at 100 TB too.
    Tables(s, dir).documents
      .select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .as(Encoders.scalaLong)
      .mapPartitions { it =>
        it.map { id =>
          val n = 2000 + (id % 50).toInt * 20
          val samples = new Array[Int](n * 2)
          var t = 0
          while (t < n) {
            samples(2 * t) =
              (((id * 13 + t * (7 + id % 5)) % 3001) - 1500).toInt
            samples(2 * t + 1) =
              (((id * 29 + t * (11 + id % 3)) % 2501) - 1250).toInt
            t += 1
          }
          val bytes = graft.multimodal.FlacCodec.encode(
            graft.multimodal.FlacCodec.Flac(16000, 2, 16, samples),
            blockSize = 512, mode = graft.multimodal.FlacCodec.MidSide)
          val dec = graft.multimodal.FlacCodec.decode(bytes)
          var ls = 0L; var rs = 0L
          var i = 0
          while (i < dec.samples.length) {
            ls += dec.samples(i)
            rs += dec.samples(i + 1)
            i += 2
          }
          FlacRow(id, dec.frames, ls, rs)
        }
      }.toDF("media_id", "n_frames", "l_sum", "r_sum")
      .orderBy(col("media_id"))
  }

  private val flacDecodeSql =
    """WITH g AS (
      |  SELECT doc_id AS d, (2000 + (doc_id % 50) * 20)::INT AS n
      |  FROM documents),
      |t AS (
      |  SELECT d, n, unnest(generate_series(0, n - 1)) AS i FROM g),
      |v AS (
      |  SELECT d, n,
      |    ((d * 13 + i * (7 + d % 5)) % 3001 - 1500)::BIGINT AS l,
      |    ((d * 29 + i * (11 + d % 3)) % 2501 - 1250)::BIGINT AS r
      |  FROM t)
      |SELECT d AS media_id, n AS n_frames,
      |  sum(l)::BIGINT AS l_sum, sum(r)::BIGINT AS r_sum
      |FROM v GROUP BY d, n ORDER BY media_id""".stripMargin

  /** mm24: WebM/EBML container probe — the audit tier over the OTHER
    * container real crawls carry. Per-doc synthesized webm headers
    * (EBML walk: DocType, TimestampScale/Duration, per-track CodecID,
    * video dimensions) probed header-only, exactly like mm04/mm12 on
    * MP4; VP8/VP9/AV1 frame decode stays the typed codec signal, but
    * the corpus AUDIT must still read these files' metadata. */
  private def webmProbe(s: SparkSession, dir: String): DataFrame = {
    val stats = udf { (id: Long) =>
      val durMs = (3000 + (id % 100) * 40).toDouble
      val w = (320 + (id % 4) * 160).toInt
      val h = (180 + (id % 4) * 90).toInt
      val vc = Seq("V_VP8", "V_VP9", "V_AV1")((id % 3).toInt)
      val ac = if (id % 2 == 0) Some("A_OPUS") else None
      val bytes = graft.multimodal.WebmProbe.encodeMinimal(
        "webm", durMs, w, h, vc, ac)
      val m = graft.multimodal.WebmProbe.probe(bytes)
      (m.docType, math.round(m.durationSec * 1000).toInt, m.width,
        m.height, m.codecs.head, m.codecs.length)
    }
    Tables(s, dir).documents
      .select(col("doc_id").as("media_id"), stats(col("doc_id")).as("st"))
      .select(col("media_id"), col("st._1").as("doc_type"),
        col("st._2").as("dur_ms"), col("st._3").as("width"),
        col("st._4").as("height"), col("st._5").as("video_codec"),
        col("st._6").as("n_tracks"))
      .orderBy(col("media_id"))
  }

  private val webmProbeSql =
    """SELECT doc_id AS media_id, 'webm' AS doc_type,
      |  (3000 + (doc_id % 100) * 40)::INT AS dur_ms,
      |  (320 + (doc_id % 4) * 160)::INT AS width,
      |  (180 + (doc_id % 4) * 90)::INT AS height,
      |  ['V_VP8', 'V_VP9', 'V_AV1'][(doc_id % 3)::INT + 1] AS video_codec,
      |  (CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END)::INT AS n_tracks
      |FROM documents ORDER BY media_id""".stripMargin

  /** mm25: MP3 frame-header audit — the web's most common compressed
    * audio, probed header-only per doc (ID3v2 skip, sync scan, the
    * layer-III frame-length arithmetic with padding, CBR/VBR + bitrate
    * range). Decode stays typed (layer-III Huffman tables are the
    * offline blocker); the AUDIT is what a 100 TB crawl runs. */
  private def mp3Probe(s: SparkSession, dir: String): DataFrame = {
    val stats = udf { (id: Long) =>
      val n = (20 + id % 30).toInt
      val vbr = id % 3 == 0
      val id3 = if (id % 2 == 0) (100 + id % 400).toInt else 0
      val bytes = graft.multimodal.Mp3Probe.encodeHeaders(n,
        i => if (vbr) 1 + ((id + i) % 14).toInt else (9 + id % 5).toInt,
        srIdx = (id % 3).toInt, id3Size = id3)
      val m = graft.multimodal.Mp3Probe.probe(bytes)
      (m.nFrames, m.sampleRate, m.totalBytes, m.minBitrateKbps,
        m.maxBitrateKbps, if (m.cbr) 1 else 0, m.id3v2Bytes)
    }
    Tables(s, dir).documents
      .select(col("doc_id").as("media_id"), stats(col("doc_id")).as("st"))
      .select(col("media_id"), col("st._1").as("n_frames"),
        col("st._2").as("sample_rate"), col("st._3").as("total_bytes"),
        col("st._4").as("min_kbps"), col("st._5").as("max_kbps"),
        col("st._6").as("is_cbr"), col("st._7").as("id3_bytes"))
      .orderBy(col("media_id"))
  }

  /** replays the header arithmetic: bitrate table lookups, the
    * 144·br·1000/sr + padding frame length (padding alternates), and
    * the 10-byte-header ID3 accounting */
  private val mp3ProbeSql =
    """WITH g AS (
      |  SELECT doc_id AS d, (20 + doc_id % 30)::INT AS n,
      |    (doc_id % 3 = 0) AS vbr,
      |    CASE WHEN doc_id % 2 = 0 THEN (100 + doc_id % 400)::INT
      |         ELSE 0 END AS id3,
      |    (doc_id % 3)::INT AS sri
      |  FROM documents),
      |fr AS (
      |  SELECT d, n, vbr, id3, sri,
      |    unnest(generate_series(0, n - 1)) AS i
      |  FROM g),
      |q AS (
      |  SELECT d, n, id3, i,
      |    [44100, 48000, 32000][sri + 1] AS sr,
      |    [0,32,40,48,56,64,80,96,112,128,160,192,224,256,320][
      |      (CASE WHEN vbr THEN 1 + (d + i) % 14
      |            ELSE 9 + d % 5 END)::INT + 1] AS br
      |  FROM fr),
      |fl AS (
      |  SELECT d, n, id3, br,
      |    144 * br * 1000 // sr + (i % 2) AS flen, sr
      |  FROM q)
      |SELECT d AS media_id, n AS n_frames,
      |  max(sr)::INT AS sample_rate,
      |  sum(flen)::BIGINT AS total_bytes,
      |  min(br)::INT AS min_kbps, max(br)::INT AS max_kbps,
      |  (CASE WHEN min(br) = max(br) THEN 1 ELSE 0 END)::INT AS is_cbr,
      |  (CASE WHEN max(id3) > 0 THEN max(id3) + 10 ELSE 0 END)::INT
      |    AS id3_bytes
      |FROM fl GROUP BY d, n ORDER BY media_id""".stripMargin

  /** mm26: Ogg/Opus container audit — podcasts and web audio. Per-doc
    * synthesized Opus-in-Ogg streams probed header-only: page/packet
    * accounting from the lacing tables, OpusHead fields, and duration
    * from the final 48 kHz granule minus pre-skip. Opus DECODE stays
    * typed (codebook blocker); this is the audit row. */
  private def oggProbe(s: SparkSession, dir: String): DataFrame = {
    val stats = udf { (id: Long) =>
      val nAudio = (10 + id % 40).toInt
      val ch = (1 + id % 2).toInt
      val pre = (100 + (id % 5) * 52).toInt
      val bytes = graft.multimodal.OggProbe.encodeMinimalOpus(
        ch, pre, 48000, nAudio)
      val m = graft.multimodal.OggProbe.probe(bytes)
      (m.codec, m.nPages, m.nPackets, m.channels, m.preSkip,
        m.lastGranule, math.round(m.durationSec * 1000).toInt)
    }
    Tables(s, dir).documents
      .select(col("doc_id").as("media_id"), stats(col("doc_id")).as("st"))
      .select(col("media_id"), col("st._1").as("codec"),
        col("st._2").as("n_pages"), col("st._3").as("n_packets"),
        col("st._4").as("channels"), col("st._5").as("pre_skip"),
        col("st._6").as("last_granule"), col("st._7").as("dur_ms"))
      .orderBy(col("media_id"))
  }

  /** duration = nAudio·960/48000 s exactly (pre-skip cancels);
    * 960·nAudio is a multiple of 48 so dur_ms is integral */
  private val oggProbeSql =
    """SELECT doc_id AS media_id, 'opus' AS codec,
      |  (12 + doc_id % 40)::INT AS n_pages,
      |  (12 + doc_id % 40)::INT AS n_packets,
      |  (1 + doc_id % 2)::INT AS channels,
      |  (100 + (doc_id % 5) * 52)::INT AS pre_skip,
      |  (100 + (doc_id % 5) * 52 + (10 + doc_id % 40) * 960)::BIGINT
      |    AS last_granule,
      |  ((10 + doc_id % 40) * 960 * 1000 // 48000)::INT AS dur_ms
      |FROM documents ORDER BY media_id""".stripMargin

  /** mm33: MP3 frame-WALK audit (round-13 directive #8) — beyond
    * mm25's header probe: CRC-16 verification of every protected frame
    * (ISO 11172-3 crc_check, corrupt frames COUNTED without decoding
    * audio) and the Xing/Info VBR-header parse with declared-vs-walked
    * consistency — the truncation detector a crawl audit runs over
    * mp3 corpora. Per-doc fixtures plant one corrupt CRC (doc_id%7=0)
    * and one declared-frames mismatch (doc_id%11=0); full Layer-III
    * DECODE stays the typed seam (SCALE.md adjudication). */
  private def mp3FrameWalk(s: SparkSession, dir: String): DataFrame = {
    val stats = udf { (id: Long) =>
      val n = (16 + id % 16).toInt
      val vbr = id % 3 == 0
      val bytes = graft.multimodal.Mp3Probe.encodeHeaders(n,
        i => if (vbr) 1 + ((id + i) % 14).toInt else (9 + id % 5).toInt,
        srIdx = (id % 3).toInt, withCrc = true,
        corruptCrcAt = if (id % 7 == 0) (id % n).toInt else -1,
        xingTag = if (vbr) "Xing" else "Info",
        // n-1 is the LAME tag-frame-excluded convention (consistent);
        // the planted LIE must be outside both accepted spellings
        declaredFrames = if (id % 11 == 0) n - 2 else n)
      val m = graft.multimodal.Mp3Probe.probe(bytes)
      (m.nFrames, m.crcFrames, m.crcBad, m.xingTag, m.declaredFrames,
        m.declaredBytes, if (m.declaredConsistent) 1 else 0,
        math.round(m.durationSec * 1000).toInt)
    }
    Tables(s, dir).documents
      .select(col("doc_id").as("media_id"), stats(col("doc_id")).as("st"))
      .select(col("media_id"), col("st._1").as("n_frames"),
        col("st._2").as("crc_frames"), col("st._3").as("crc_bad"),
        col("st._4").as("tag"), col("st._5").as("declared_frames"),
        col("st._6").as("declared_bytes"), col("st._7").as("consistent"),
        col("st._8").as("dur_ms"))
      .orderBy(col("media_id"))
  }

  /** replays the walk: frame-length arithmetic for declared_bytes
    * (the fixture's Xing bytes field = the true stream total), the
    * planted corrupt-CRC and mismatch rows, and the 1152-samples-per-
    * frame duration */
  private val mp3FrameWalkSql =
    """WITH g AS (
      |  SELECT doc_id AS d, (16 + doc_id % 16)::INT AS n,
      |    (doc_id % 3 = 0) AS vbr, (doc_id % 3)::INT AS sri
      |  FROM documents),
      |fr AS (
      |  SELECT d, n, vbr, sri,
      |    unnest(generate_series(0, n - 1)) AS i
      |  FROM g),
      |q AS (
      |  SELECT d, n, i,
      |    [44100, 48000, 32000][sri + 1] AS sr,
      |    [0,32,40,48,56,64,80,96,112,128,160,192,224,256,320][
      |      (CASE WHEN vbr THEN 1 + (d + i) % 14
      |            ELSE 9 + d % 5 END)::INT + 1] AS br
      |  FROM fr),
      |fl AS (
      |  SELECT d, n, sr, 144 * br * 1000 // sr + (i % 2) AS flen
      |  FROM q)
      |SELECT d AS media_id, n AS n_frames, n AS crc_frames,
      |  (CASE WHEN d % 7 = 0 THEN 1 ELSE 0 END)::INT AS crc_bad,
      |  (CASE WHEN d % 3 = 0 THEN 'Xing' ELSE 'Info' END) AS tag,
      |  (CASE WHEN d % 11 = 0 THEN n - 2 ELSE n END)::INT
      |    AS declared_frames,
      |  sum(flen)::BIGINT AS declared_bytes,
      |  (CASE WHEN d % 11 = 0 THEN 0 ELSE 1 END)::INT AS consistent,
      |  round((n * 1152.0 / max(sr)) * 1000)::INT AS dur_ms
      |FROM fl GROUP BY d, n ORDER BY media_id""".stripMargin

  /** mm35: OGG PAGE-CRC walk — the corruption-detecting tier over
    * mm26's structural probe. Unlike ADTS (payload-dependent crc
    * spans, counted-not-validated — see mm34), the Ogg page CRC is
    * fully structural (RFC 3533 direct CRC-32 over the page with a
    * zeroed crc field), so the audit VERIFIES every page without any
    * codec decode: the fixture plants one corrupt stored CRC on an
    * audio page for doc_id%7=0, and mismatching pages are counted
    * while the walk continues (totals for the stream you have, not a
    * stop at the first bitflip). */
  private def oggCrcWalk(s: SparkSession, dir: String): DataFrame = {
    val stats = udf { (id: Long) =>
      val nAudio = (10 + id % 40).toInt
      val bytes = graft.multimodal.OggProbe.encodeMinimalOpus(
        (1 + id % 2).toInt, 100, 48000, nAudio,
        corruptCrcAt = if (id % 7 == 0) (2 + id % nAudio).toInt else -1)
      val m = graft.multimodal.OggProbe.probe(bytes)
      (m.nPages, m.nPackets, m.crcBad,
        math.round(m.durationSec * 1000).toInt)
    }
    Tables(s, dir).documents
      .select(col("doc_id").as("media_id"), stats(col("doc_id")).as("st"))
      .select(col("media_id"), col("st._1").as("n_pages"),
        col("st._2").as("n_packets"), col("st._3").as("crc_bad"),
        col("st._4").as("dur_ms"))
      .orderBy(col("media_id"))
  }

  private val oggCrcWalkSql =
    """SELECT doc_id AS media_id,
      |  (12 + doc_id % 40)::INT AS n_pages,
      |  (12 + doc_id % 40)::INT AS n_packets,
      |  (CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END)::INT AS crc_bad,
      |  ((10 + doc_id % 40) * 960 * 1000 // 48000)::INT AS dur_ms
      |FROM documents ORDER BY media_id""".stripMargin

  /** mm34: AAC ADTS frame-WALK audit — the aac half of the
    * compressed-audio audit seam (mm33 is the mp3 half). Syncword walk
    * with byte-wise resync (junk bytes + resync events COUNTED),
    * ISO 13818-7 header fields, raw-data-block accounting (1024 PCM
    * samples per block → duration), and truncation detection (a final
    * header whose declared length overruns EOF). Per-doc fixtures plant
    * a syncword corruption (doc_id%7=0 — the walker must resync and
    * account every junk byte) and a truncated final frame (doc_id%11=0).
    * Full AAC DECODE stays the typed seam (Huffman codebooks, SCALE.md
    * adjudication); ADTS CRC content is counted-not-validated because
    * the spec computes it over raw-data-block bits (see [[AacProbe]]). */
  private def aacAdtsWalk(s: SparkSession, dir: String): DataFrame = {
    val stats = udf { (id: Long) =>
      val n = (16 + id % 16).toInt
      val bytes = graft.multimodal.AacProbe.encodeAdts(
        n, i => 100 + ((id + i) % 64).toInt,
        srIdx = (3 + id % 3).toInt, channels = (1 + id % 2).toInt,
        profile = (id % 3).toInt, withCrc = id % 2 == 0,
        rawBlocks = if (id % 2 == 0) 0 else (id % 3).toInt,
        breakSyncAt = if (id % 7 == 0) (id % (n - 1)).toInt else -1,
        truncateTail = if (id % 11 == 0) 3 else 0)
      val m = graft.multimodal.AacProbe.probe(bytes)
      (m.nFrames, m.protectedFrames, m.sampleRate, m.channels,
        m.profile, m.rawBlocks, m.junkBytes, m.resyncs,
        m.truncatedBytes, m.configChanges,
        math.round(m.durationSec * 1000).toInt)
    }
    Tables(s, dir).documents
      .select(col("doc_id").as("media_id"), stats(col("doc_id")).as("st"))
      .select(col("media_id"), col("st._1").as("n_frames"),
        col("st._2").as("protected_frames"), col("st._3").as("sample_rate"),
        col("st._4").as("channels"), col("st._5").as("profile"),
        col("st._6").as("raw_blocks"), col("st._7").as("junk_bytes"),
        col("st._8").as("resyncs"), col("st._9").as("truncated_bytes"),
        col("st._10").as("config_changes"), col("st._11").as("dur_ms"))
      .orderBy(col("media_id"))
  }

  /** replays the walk closed-form: the corrupt frame contributes its
    * whole length as junk (payload bytes are mod-255 so no false sync),
    * the truncated final frame contributes length-3 tail bytes, and
    * duration is walked-frames × (raw_blocks_field+1) × 1024 / rate */
  private val aacAdtsWalkSql =
    """WITH g AS (
      |  SELECT doc_id AS d,
      |    (16 + doc_id % 16)::INT AS n,
      |    (CASE WHEN doc_id % 2 = 0 THEN 9 ELSE 7 END)::INT AS hdr,
      |    [48000, 44100, 32000][(doc_id % 3)::INT + 1] AS sr,
      |    (1 + doc_id % 2)::INT AS channels,
      |    (doc_id % 3)::INT AS profile,
      |    (CASE WHEN doc_id % 2 = 0 THEN 0
      |          ELSE doc_id % 3 END)::INT AS rb
      |  FROM documents),
      |c AS (
      |  SELECT *,
      |    (n - (CASE WHEN d % 7 = 0 THEN 1 ELSE 0 END)
      |       - (CASE WHEN d % 11 = 0 THEN 1 ELSE 0 END))::INT AS nf
      |  FROM g)
      |SELECT d AS media_id, nf AS n_frames,
      |  (CASE WHEN d % 2 = 0 THEN nf ELSE 0 END)::INT
      |    AS protected_frames,
      |  sr::INT AS sample_rate, channels, profile,
      |  (nf * (rb + 1))::BIGINT AS raw_blocks,
      |  (CASE WHEN d % 7 = 0
      |     THEN hdr + 100 + (d + d % (n - 1)) % 64
      |     ELSE 0 END)::INT AS junk_bytes,
      |  (CASE WHEN d % 7 = 0 THEN 1 ELSE 0 END)::INT AS resyncs,
      |  (CASE WHEN d % 11 = 0
      |     THEN hdr + 100 + (d + n - 1) % 64 - 3
      |     ELSE 0 END)::INT AS truncated_bytes,
      |  0::INT AS config_changes,
      |  round(nf * (rb + 1) * 1024 * 1000.0 / sr)::INT AS dur_ms
      |FROM c ORDER BY media_id""".stripMargin

  override val defs: Map[String, QueryDef] = Map(
    "mm34_aac_adts_walk" ->
      QueryDef(aacAdtsWalk, Some(aacAdtsWalkSql), bench = true),
    "mm35_ogg_crc_walk" ->
      QueryDef(oggCrcWalk, Some(oggCrcWalkSql), bench = true),
    "mm33_mp3_frame_walk" ->
      QueryDef(mp3FrameWalk, Some(mp3FrameWalkSql), bench = true),
    "mm26_ogg_probe" -> QueryDef(oggProbe, Some(oggProbeSql)),
    "mm25_mp3_probe" -> QueryDef(mp3Probe, Some(mp3ProbeSql)),
    "mm24_webm_probe" -> QueryDef(webmProbe, Some(webmProbeSql)),
    "mm23_vtt_align" -> QueryDef(vttAlign, Some(vttAlignSql)),
    "mm22_flac_decode" -> QueryDef(flacDecode, Some(flacDecodeSql),
      bench = true),
    "mm27_video_near_dup" -> QueryDef(videoNearDup,
      Some(videoNearDupSql), bench = true),
    "mm28_video_phash_dup" -> QueryDef(videoPerceptualDup,
      Some(videoPerceptualDupSql), bench = true),
    "mm29_audio_near_dup" -> QueryDef(audioNearDup,
      Some(audioNearDupSql), bench = true),
    // benched (round-11 directive): the CC terminator IS the shape a
    // 100 TB media dedup runs — its cost needs a number, not just a
    // hash
    "mm30_media_dup_clusters" -> QueryDef(mediaDupClusters,
      Some(mediaDupClustersSql), bench = true),
    "mm31_image_phash_dup" -> QueryDef(imagePerceptualDup,
      Some(imagePerceptualDupSql), bench = true),
    "mm32_dup_segments" -> QueryDef(dupSegments, Some(dupSegmentsSql),
      bench = true),
    "st13_stream_media_dedup" -> QueryDef(streamMediaDedup,
      Some(streamMediaDedupSql), bench = true),
    "mm21_avc_fmp4" -> QueryDef(avcFmp4Decode,
      Some(avcInterDecodeSql), bench = true),
    "mm20_avc_bframes" -> QueryDef(avcBFrameDecode,
      Some(avcBFrameDecodeSql), bench = true),
    "mm19_avc_weighted" -> QueryDef(avcWeightedDecode,
      Some(avcWeightedDecodeSql), bench = true),
    "mm18_avc_multiref" -> QueryDef(avcMultiRefDecode,
      Some(avcMultiRefDecodeSql), bench = true),
    "mm17_avc_slices" -> QueryDef(avcSliceDecode, Some(avcSliceDecodeSql),
      bench = true),
    "mm16_avc_inter" -> QueryDef(avcInterDecode, Some(avcInterDecodeSql),
      bench = true),
    "mm15_pitch_track" -> QueryDef(pitchTrack, Some(pitchTrackSql),
      bench = true),
    "mm14_avc_decode" -> QueryDef(avcDecodeStats, Some(avcDecodeStatsSql),
      bench = true),
    "mm13_codec_audit" -> QueryDef(codecAudit, Some(codecAuditSql),
      bench = true),
    "mm12_gop_audit" -> QueryDef(gopAudit, Some(gopAuditSql),
      bench = true),
    "mm08_scene_cuts" -> QueryDef(sceneCuts, Some(sceneCutsSql),
      bench = true),
    "mm09_patchify" -> QueryDef(patchify, Some(patchifySql),
      bench = true),
    "mm10_silence_segments" -> QueryDef(silenceSegments,
      Some(silenceSegmentsSql), bench = true),
    "mm11_srt_align" -> QueryDef(srtAlign, Some(srtAlignSql),
      bench = true),
  )
}
