package graft

import graft.pack.{Loaders, PackStage}
import graft.index.CheckStage
import graft.tokenize.{SentencePieceModel, TokenizeStage, Tokenizers, SpecialTokenTokenizer}
import graft.wds.WdsReader
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{avg, col, concat_ws, count, countDistinct, lit, sum, when}

/** spark-submit entrypoint mirroring the reference's three CLI stages
  * (`pack/pack.py:314-329`, `tokenize/main.py`, `index/check_pair.py`)
  * so a reference user can run the same flows on a cluster:
  *
  * {{{
  * spark-submit --class graft.Pipeline graft.jar \
  *   --stage pack --dataset internvid --meta-path meta.jsonl \
  *   --type kf --save-path out/ --total-frames 24 --iframes 8 \
  *   --time-scale 1000 --samples-per-tar 500
  *   # or, mixed weighted corpora (S3 YAML composed with E1):
  *   #   --mix-spec corpora.yaml [--mix-seed 17] instead of --meta-path
  *
  * spark-submit --class graft.Pipeline graft.jar \
  *   --stage tokenize --input 'out/shard-{0..63}-*.tar' \
  *   --save-path tok/ [--tokenizer-model tokenizer.model] [--max-tokens 8000]
  *   # or, mixed corpora: --mix-spec shards.yaml [--mix-seed 17]
  *   #   instead of --input (sources list TAR shards; merge groups
  *   #   are shard-size runs of the concatenated selection)
  *   # [--start 0 --end 64]: slice of the resolved shard list —
  *   #   the reference's tar-range resume workflow (non-negative
  *   #   indices only; from-the-end indexing is rejected loudly)
  *
  * spark-submit --class graft.Pipeline graft.jar \
  *   --stage check --input 'tok/shard_{0..63}-{000000..000009}.tar' \
  *   --save-path index/ [--lenient]
  *
  * spark-submit --class graft.Pipeline graft.jar \
  *   --stage mediadedup --input media.parquet --save-path dedup/ \
  *   [--fingerprint exact|phash|image|audio] [--output clusters|pairs] \
  *   [--window 3] [--threshold-ppm 400000] [--grid 8] \
  *   [--audio-window 50] [--skip-corrupt]
  *
  * spark-submit --class graft.Pipeline graft.jar \
  *   --stage audioaudit --input 'shards-{0..63}.tar' --save-path audit/ \
  *   [--quarantine bad/]
  *   # per-shard mp3/aac/ogg corruption rates via the frame walks;
  *   # --quarantine also writes one (url, entry, kind, reason) row
  *   # per offending entry so corrupt files are actionable
  *
  * spark-submit --class graft.Pipeline graft.jar \
  *   --stage mediaaudit --input 'shards-{0..63}.tar' --save-path audit/ \
  *   [--quarantine bad/]
  *   # the video/image arms, same per-shard table + quarantine
  *   # contract: mp4/mov via the stbl walk + a first-frame decode
  *   # attempt (unsupported codecs COUNT as typed signals, they are
  *   # never quarantined), webm/mkv via the EBML header walk,
  *   # jpeg/png/gif/bmp via the real image decoder
  * }}}
  *
  * The reference's `--machine_id/--total_machine/--workers` sharding
  * flags have no equivalent: Spark's scheduler owns work placement —
  * partitioning replaces hand-sharding. Media bytes load through
  * Hadoop FS (file:/hdfs:/s3a:); `--synthetic-media` substitutes
  * deterministic bytes for environments without the media lake.
  */
object Pipeline {

  /** Positional flag parse: `--key value` pairs, with valueless boolean
    * flags (`--lenient`, `--synthetic-media`) recorded as "true" when
    * followed by another flag or nothing. A naive grouped(2) pairing
    * would silently drop a trailing bare flag and mispair everything
    * after a mid-list one. Non-flag stray tokens fail fast. */
  def parseArgs(args: Array[String]): Map[String, String] = {
    val out = Map.newBuilder[String, String]
    var i = 0
    while (i < args.length) {
      val k = args(i)
      if (!k.startsWith("--"))
        throw new IllegalArgumentException(s"expected --flag, got '$k'")
      if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
        out += k.stripPrefix("--") -> args(i + 1); i += 2
      } else { out += k.stripPrefix("--") -> "true"; i += 1 }
    }
    out.result()
  }

  /** `--dataset` → loader normalizer (`pack/pack.py:231-256`). */
  def loadMeta(spark: SparkSession, dataset: String, path: String,
      prefix: String): DataFrame = dataset match {
    case "webvid" | "cambrain" => Loaders.loadCaptionMap(spark, path, prefix)
    case "hd3m" | "ego4d" => Loaders.loadCaptionArray(spark, path, prefix)
    case "internvid" => Loaders.loadJsonl(spark, path, prefix)
    case "how2link" => Loaders.loadClips(spark, path, prefix)
    case "llava_pretrain" =>
      Loaders.loadConversations(spark, path, prefix)
    case "videochat2" => Loaders.loadVideochat2(spark, path, prefix)
    case "unicontrol" => Loaders.loadUnicontrol(spark, path)
      .withColumnRenamed("target_path", "media_path2")
      .selectExpr("video_path", "value",
        "array(video_path, media_path2) AS media_paths")
    case "merlin-s" => Loaders.loadMerlin(spark, path)
    case _ => // load_sft fallback (`pack.py:252-256`): path IS the dataset
      Loaders.loadSft(spark, path, prefix)
  }

  /** Hadoop FS media loader — file:/hdfs:/s3a: all work. Captures the
    * SESSION hadoopConfiguration (serialized to executors), so
    * spark.hadoop.* settings — S3A credentials, endpoints, timeouts —
    * apply on the media-load path; a fresh Configuration() would
    * silently ignore them. */
  def hadoopMedia(spark: SparkSession): String => Array[Byte] = {
    val conf = new graft.wds.SerializableHadoopConf(
      spark.sparkContext.hadoopConfiguration)
    p =>
    val path = new org.apache.hadoop.fs.Path(p)
    val fs = path.getFileSystem(conf.value)
    val in = fs.open(path)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  /** `--mix-spec` YAML → seeded (source, url) selection, shared by the
    * pack stage (metadata files) and the tokenize stage (tar shards).
    * Hadoop FS read: the spec can live beside the corpora
    * (file:/hdfs:/s3a:), like every other pipeline input. */
  private def mixTagged(spark: SparkSession, a: Map[String, String],
      specPath: String)
      : Seq[(graft.wds.MultiShardSample.SourceSpec, String)] = {
    val sp = new org.apache.hadoop.fs.Path(specPath)
    val specFs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val specIn = specFs.open(sp)
    val yaml =
      try new String(specIn.readAllBytes(), "UTF-8")
      finally specIn.close()
    val spec = graft.wds.MultiShardSample.parseYaml(yaml)
    val tagged = graft.wds.MultiShardSample.resolveTagged(
      spec, a.getOrElse("mix-seed", "17").toLong)
    require(tagged.nonEmpty, s"--mix-spec $specPath selects no files")
    tagged
  }

  def run(spark: SparkSession, a: Map[String, String]): DataFrame = {
    def req(k: String): String = a.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    a.getOrElse("stage", "pack") match {
      case "pack" =>
        // --mix-spec: pack over a WEIGHTED MULTI-SOURCE corpus — the
        // S3 MultiShardSample YAML composed with E1, as the reference
        // fleet mixes corpora. Each source lists metadata FILES
        // (brace-expandable) with optional choose/resample weighting
        // (seeded via --mix-seed, default 17), a `dataset` loader name
        // and a media `prefix`; the selected files' metadata unions
        // into one pack run (resample repeats = weight). Driver cost
        // is one loader plan per SELECTED file — bounded by the spec's
        // file count (corpus specs list dozens of files), never rows.
        val meta = a.get("mix-spec") match {
          case Some(specPath) =>
            mixTagged(spark, a, specPath).map { case (src, url) =>
              loadMeta(spark,
                src.dataset.getOrElse(a.getOrElse("dataset", "internvid")),
                url,
                if (src.prefix.nonEmpty) src.prefix
                else a.getOrElse("prefix", ""))
            }.reduce(_.unionByName(_))
          case None =>
            loadMeta(spark, a.getOrElse("dataset", "internvid"),
              req("meta-path"), a.getOrElse("prefix", ""))
        }
        val opts = PackStage.PackOptions(
          samplerType = PackStage.SamplerType.byName(
            a.getOrElse("type", "video-only")),
          numSegments = a.getOrElse("num-segments", "16").toInt,
          samplesPerTar = a.getOrElse("samples-per-tar", "500").toLong,
          iFrames = a.getOrElse("iframes", "8").toInt,
          totalFrames = a.getOrElse("total-frames", "24").toInt,
          timeScale = a.getOrElse("time-scale", "1000").toInt,
          alignShards = a.getOrElse("align-shards", "false").toBoolean,
          frames =
            if (a.contains("synthetic-media")) graft.pack.FrameSource.Synthetic
            else graft.pack.FrameSource.Mp4Meta())
        val mediaFor: String => Array[Byte] =
          if (a.contains("synthetic-media")) p => p.getBytes("UTF-8")
          else hadoopMedia(spark)
        PackStage.run(meta, req("save-path"), opts, mediaFor)
      case "tokenize" =>
        val tok: SpecialTokenTokenizer = a.get("tokenizer-model")
          .map(m => new SpecialTokenTokenizer(
            SentencePieceModel.fromFile(m), Tokenizers.MultimodalSpecials))
          .getOrElse(Tokenizers.testTokenizer())
        // --shard-size: consecutive tars per merge group, the
        // reference's shard_size (`tokenize/main.py:274`). Input is
        // either --input (a brace-expandable shard list) or --mix-spec
        // (the S3 YAML over TAR shards — the fleet workflow fed
        // tokenize from tar-range slices across corpora,
        // `tokenize/main.py:224-227`: the selected urls concatenate in
        // source order and merge groups are consecutive `shard-size`
        // runs of that list, so a group may straddle a corpus
        // boundary, exactly like a slice of the fleet's mixed file
        // list).
        // fail loudly on both: mix-spec silently winning over --input
        // would mask a misconfigured job
        require(!(a.contains("mix-spec") && a.contains("input")),
          "--mix-spec and --input are mutually exclusive — the mix " +
            "spec already names its shard sources")
        val tokInput0 = a.get("mix-spec") match {
          case Some(specPath) => mixTagged(spark, a, specPath).map(_._2)
          case None => graft.wds.ShardList.expand(req("input"))
        }
        // --start/--end: the reference's tar-range resume
        // (`tokenize/main.py:224-227` all_files[start:end], the
        // resume-by-count workflow README.md:205-213) — a slice of the
        // resolved input list, applied after expansion / mix
        // resolution so a restarted job names the same range
        val sliceFrom = a.getOrElse("start", "0").toInt
        val sliceTo = a.get("end").map(_.toInt).getOrElse(tokInput0.length)
        // negative indices are NOT python-from-the-end here — Scala's
        // slice would clamp them silently (e.g. --start -5 reprocesses
        // everything instead of the last 5 shards); reject loudly
        require(sliceFrom >= 0 && sliceTo >= 0,
          s"--start/--end must be non-negative (got $sliceFrom/$sliceTo;" +
            " from-the-end indexing is not supported)")
        val tokInput = tokInput0.slice(sliceFrom, sliceTo)
        require(tokInput.nonEmpty,
          s"--start/--end select no shards of ${tokInput0.length}")
        val samples = WdsReader.readUrlsGrouped(spark, tokInput,
          a.getOrElse("shard-size", "1").toInt)
        // a RANGED run writes under `<save-path>/<start>-<end>/`, the
        // reference's resume layout (`tokenize/main.py:151`:
        // save_path/{start}-{end}/{tar_name}.tar) — merge-group ids
        // restart at 0 per invocation, so two resumed ranges into one
        // flat dir would collide on shard_0-…; the range subdir is
        // what makes the fleet's restart-by-count workflow composable
        val tokOut =
          if (a.contains("start") || a.contains("end"))
            s"${req("save-path").stripSuffix("/")}/$sliceFrom-$sliceTo"
          else req("save-path")
        // --type: the reference's sample_type job arg selects the
        // conversate/validation branch (kf token expansion, merlin-s
        // multi-turn counts) — `tokenize/main.py:169-184`
        TokenizeStage.run(samples, tokOut, tok,
          a.getOrElse("max-tokens", TokenizeStage.MaxTokens.toString).toInt,
          sampleType = a.getOrElse("type", "un"))
      case "check" =>
        // json-only payload read: every E3 invariant (token/mask
        // lengths, start/end balance, patch counts) is a function of
        // the json entry alone — image BYTES are never parsed, and
        // payload pruning keeps entry names so keys/grouping/sample
        // counts are identical. On seekable storage the index scan of
        // image-bearing tokenized shards then reads headers + json
        // (a few % of shard bytes) instead of the whole corpus, and
        // each json entry is scanned once for its counts
        // (PackedJsonStats) without building the id arrays. An entry
        // that is not valid UTF-8 is a bad_parse violation: it fails
        // the gate, and --lenient counts it in the index.
        val idx = CheckStage.index(
          WdsReader.read(spark, req("input"), graft.wds.TarIO.ReadOptions(
            payloadFiles = Some(_.endsWith(".json")))),
          strict = !a.contains("lenient"))
        idx.write.mode("overwrite").parquet(req("save-path"))
        // --pickle-index <path>: additionally emit the reference's
        // .pkl artifact (list[dict(url, nsamples)], check_pair.py:66)
        // for CPython consumers of the fleet's index
        a.get("pickle-index").foreach(p => CheckStage.writePickleIndex(
          idx, p, spark.sparkContext.hadoopConfiguration))
        idx
      // curation stage (beyond the reference's three): raw document
      // parquet → quality/mix/dedup/span/decontam filters → curated
      // parquet + audit counts. `--rates en=90,de=50` dials the mix;
      // `--eval-path` enables the n-gram decontamination scrub;
      // `--near-dup-jaccard 0.5` enables MinHash/LSH near-dup pruning
      // (one survivor per verified cluster; `--lsh-bucket-cap 1000`
      // adds the qd27 skew guard — hot candidate buckets drop whole); add `--soft-dedup` to
      // KEEP cluster members and emit weight_ppm = 1e6/|cluster|
      // instead (the qd23 re-weighting posture); `--containment 0.6`
      // drops excerpts near-contained in a larger survivor (the qd24
      // policy); `--span-scrub` rewrites survivors' text by cutting
      // cross-document duplicated spans (the qd21/qd25 removal pass,
      // case-preserving); `--min-run 50` scrubs only maximal duplicated
      // runs of at least that many tokens (Lee et al. 2022 ExactSubstr
      // regime — the CLI default, chosen DELIBERATELY above the
      // library CurateOptions default of 1, which preserves the
      // historical cut-everything posture for existing library
      // callers and the qd21 gate; 1 restores it here too) and
      // `--gram-df-ceil 1000` ignores grams duplicated across more
      // documents than that (corpus-common idioms); `--token-budget-div
      // 10` adds the qc08 token-budget mixture as the FINAL selection
      // (budget = survivor tokens div N, per-source α=1/2 quotas,
      // greedy md5-ordered fill — needs a `source` column).
      case "curate" =>
        // the --min-run default moved 1 → 50 (ExactSubstr posture) —
        // a breaking CLI behavior change for pre-existing --span-scrub
        // invocations; notice, not failure, so old scripts keep running
        // but the change is visible in their logs
        if (a.contains("span-scrub") && !a.contains("min-run"))
          println("[pipeline] notice: --span-scrub now defaults to " +
            "--min-run 50 (maximal-run ExactSubstr scrub); pass " +
            "--min-run 1 for the historical cut-every-duplicated-gram " +
            "behavior")
        val docs = spark.read.parquet(req("input"))
        val rates = a.get("rates").map(_.split(',').toSeq.map { kv =>
          kv.split('=') match {
            case Array(l, r) => l -> r.toInt
            case _ => throw new IllegalArgumentException(
              s"--rates entry '$kv' is not lang=percent")
          }
        }).getOrElse(Seq.empty)
        val opts = graft.curate.CurateStage.CurateOptions(
          minWords = a.getOrElse("min-words", "30").toInt,
          maxDupFrac = a.getOrElse("max-dup-frac", "0.5").toDouble,
          rates = rates,
          defaultRate = a.getOrElse("default-rate", "100").toInt,
          gramK = a.getOrElse("gram-k", "5").toInt,
          evalPath = a.get("eval-path"),
          nearDupJaccard = a.get("near-dup-jaccard").map(_.toDouble),
          lshBucketCap = a.get("lsh-bucket-cap").map(_.toInt),
          spanScrub = a.contains("span-scrub"),
          scrubMinRun = a.getOrElse("min-run", "50").toInt,
          scrubDfCeil = a.get("gram-df-ceil").map(_.toInt),
          softDedup = a.contains("soft-dedup"),
          containmentTau = a.get("containment").map(_.toDouble),
          containmentDfCeil = a.get("containment-df-ceil").map(_.toInt),
          tokenBudgetDiv = a.get("token-budget-div").map(_.toInt))
        val res = graft.curate.CurateStage.run(docs, opts)
        // stats is a local one-row frame: it outlives the flag cache
        try res.curated.write.mode("overwrite").parquet(req("save-path"))
        finally res.close()
        res.stats
      // audit stage: schema-generic profile + rule validation over any
      // parquet input. `--rules "pos=l_quantity > 0;flag=l_returnflag
      // IN ('A','N','R')"` (;-separated so exprs may contain commas).
      case "audit" =>
        val df = spark.read.parquet(req("input"))
        val profile = graft.curate.AuditStage.profile(df)
        profile.write.mode("overwrite")
          .parquet(s"${req("save-path")}/profile")
        a.get("rules").map(graft.curate.AuditStage.parseRules) match {
          case Some(rules) =>
            val checks = graft.curate.AuditStage.constraints(df, rules)
            checks.write.mode("overwrite")
              .parquet(s"${req("save-path")}/constraints")
            checks
          case None => profile
        }
      // media near-dup stage (beyond the reference's three): parquet
      // of (media_id, take, content) binary media rows → verified
      // near-dup pairs (`--output pairs`) or duplicate clusters with
      // one survivor per cluster (`--output clusters`, the default —
      // the corpus-scale shape; pair lists are cluster-quadratic).
      // `--fingerprint exact|phash|image|audio` picks the content kind
      // and robustness axis: exact/phash walk MP4 frames (re-mux/trim
      // vs re-encode robust), image hashes raw stills, audio the PCM
      // sign pattern (gain/transcode robust). The shingle stage is
      // written under save-path, so the expensive decode is a
      // restartable checkpoint of the job itself.
      case "mediadedup" =>
        import graft.multimodal.MediaDedup
        val media = spark.read.parquet(req("input"))
        val fp: Array[Byte] => IndexedSeq[String] =
          a.getOrElse("fingerprint", "exact") match {
            case "exact" => MediaDedup.exactVideoFingerprint(
              graft.pack.FrameSource.Mp4Frames)
            case "phash" => MediaDedup.perceptualVideoFingerprint(
              graft.pack.FrameSource.Mp4Frames,
              grid = a.getOrElse("grid", "8").toInt)
            case "image" => MediaDedup.perceptualImageFingerprint(
              grid = a.getOrElse("grid", "8").toInt)
            case "audio" => MediaDedup.signPatternAudioFingerprint(
              a.getOrElse("audio-window", "50").toInt)
            case other => throw new IllegalArgumentException(
              s"unknown --fingerprint $other (exact|phash|image|audio)")
          }
        val window = a.getOrElse("window", "3").toInt
        val threshold = a.getOrElse("threshold-ppm", "400000").toLong
        // --skip-corrupt: warnAndContinue posture — undecodable rows
        // contribute no shingles and survive as singleton clusters
        val skip = a.contains("skip-corrupt")
        val save = req("save-path")
        val output = a.getOrElse("output", "clusters") match {
          case v @ ("pairs" | "clusters" | "segments") => v
          case other => throw new IllegalArgumentException(
            s"unknown --output $other (pairs|clusters|segments)")
        }
        val result = output match {
          case "pairs" =>
            MediaDedup.shingleNearDup(media, s"$save/shingle-stage",
              fp, window, threshold, skipCorrupt = skip)
          // segment localization (the mm32 operator): WHERE each
          // duplicate lies — modal-offset vote + matched span.
          // Its knob is --min-seg (votes at the modal offset), NOT
          // --threshold-ppm: accepting-and-ignoring the Jaccard flag
          // here would silently flood a run the user believed filtered
          case "segments" =>
            if (a.contains("threshold-ppm"))
              throw new IllegalArgumentException(
                "--threshold-ppm applies to pairs/clusters; " +
                  "--output segments filters by --min-seg (modal-" +
                  "offset votes) instead")
            MediaDedup.dupSegmentAlign(media, s"$save/shingle-stage",
              fp, window, minSeg = a.getOrElse("min-seg", "2").toLong,
              skipCorrupt = skip)
          case _ =>
            MediaDedup.nearDupClusters(media, s"$save/shingle-stage",
              fp, window, threshold, skipCorrupt = skip)
        }
        result.write.mode("overwrite").parquet(s"$save/result")
        // bounded driver-side report row, like the other stages
        val written = spark.read.parquet(s"$save/result")
        output match {
          case "pairs" =>
            written.agg(count(lit(1)).as("n_pairs"),
              avg(col("jaccard_ppm")).cast("long").as("avg_jaccard_ppm"))
          case "segments" =>
            written.agg(count(lit(1)).as("n_pairs"),
              avg(col("seg_len")).cast("long").as("avg_seg_len"))
          case _ =>
            written.agg(count(lit(1)).as("n_takes"),
              countDistinct(col("cluster_id"), col("cluster_take"))
                .as("n_clusters"),
              sum(when(col("survivor"), 1L).otherwise(0L))
                .as("n_survivors"))
        }
      // audio corruption-audit stage (mirrors the mediadedup posture):
      // wds shards → mp3/aac/ogg entries routed through the mm33/34/35
      // frame walks → per-shard corruption/truncation rates, no SQL.
      // Payload pruning keeps the scan to headers + audio entries: on
      // seekable storage a mixed-modality corpus costs audio bytes,
      // not corpus bytes. Each walk is per-row, KBs of state: the
      // audit reads frame/page headers (+ structural CRCs where the
      // spec makes them payload-free: mp3 frame CRC-16, Ogg page
      // CRC-32; ADTS crc spans need payload decode, so aac CRCs are
      // counted, not validated — the mm34 adjudication).
      case "audioaudit" =>
        import graft.multimodal.{AacProbe, FlacCodec, Mp3Probe, OggProbe, WavCodec}
        // serves two namespaces: full tar entry names ("0001.mp3", the
        // payloadFiles pushdown) and Sample.entries suffix keys ("mp3")
        def kindOf(name: String): String = {
          val n = name.toLowerCase(java.util.Locale.ROOT)
          n.substring(n.lastIndexOf('.') + 1) match {
            case "mp3" => "mp3"
            case "aac" | "adts" => "aac"
            case "ogg" | "oga" | "opus" => "ogg"
            case "flac" => "flac"
            case "wav" => "wav"
            case _ => ""
          }
        }
        val samples = WdsReader.read(spark, req("input"),
          graft.wds.TarIO.ReadOptions(
            payloadFiles = Some(n => kindOf(n).nonEmpty)))
        implicit val enc: org.apache.spark.sql.Encoder[AudioEntryStat] =
          org.apache.spark.sql.Encoders.product[AudioEntryStat]
        val stats = samples.flatMap { smp =>
          smp.entries.toSeq.flatMap { case (name, bytes) =>
            val kind = kindOf(name)
            // suffix keys come key-less off the reader; re-qualify so
            // the quarantine row names the tar member unambiguously
            val entryName =
              if (name.contains('.')) name else s"${smp.key}.$name"
            if (kind.isEmpty) None
            else Some(try {
              kind match {
                case "mp3" =>
                  val m = Mp3Probe.probe(bytes)
                  AudioEntryStat(smp.url, entryName, kind, m.nFrames,
                    m.crcFrames, m.crcBad, 0L, 0L, 0L,
                    if (m.declaredConsistent) 0 else 1,
                    math.round(m.durationSec * 1000), 0)
                case "aac" =>
                  val m = AacProbe.probe(bytes)
                  AudioEntryStat(smp.url, entryName, kind, m.nFrames,
                    m.protectedFrames, 0L, m.junkBytes.toLong,
                    m.truncatedBytes.toLong, m.configChanges.toLong, 0,
                    math.round(m.durationSec * 1000), 0)
                case "flac" =>
                  // FULL decode: every frame's CRC-8/CRC-16 verified
                  // by construction — a mismatch throws and counts as
                  // parse_error below (the lossless-tier integrity
                  // audit; mp3/aac/ogg stay header/CRC walks)
                  val m = FlacCodec.decode(bytes)
                  AudioEntryStat(smp.url, entryName, kind,
                    m.frames.toLong, m.frames.toLong, 0L, 0L, 0L, 0L, 0,
                    math.round(m.durationSec * 1000), 0)
                case "wav" =>
                  // structural decode (RIFF/fmt/data walk; truncation
                  // and chunk lies throw → parse_error)
                  val m = WavCodec.decode(bytes)
                  AudioEntryStat(smp.url, entryName, kind,
                    m.frames.toLong, 0L, 0L, 0L, 0L, 0L, 0,
                    math.round(m.durationSec * 1000), 0)
                case _ =>
                  val m = OggProbe.probe(bytes)
                  AudioEntryStat(smp.url, entryName, kind,
                    m.nPages.toLong, m.nPages.toLong, m.crcBad, 0L, 0L,
                    0L, 0, math.round(m.durationSec * 1000), 0)
              }
            } catch { case scala.util.control.NonFatal(_) =>
              // the walks are fuzz-hardened; anything that still
              // throws is a stream the audit must COUNT, not die on
              AudioEntryStat(smp.url, entryName, kind,
                0, 0, 0, 0, 0, 0, 0, 0, 1)
            })
          }
        }
        val corrupt = col("crc_bad") > 0 || col("junk_bytes") > 0 ||
          col("truncated_bytes") > 0 || col("config_changes") > 0 ||
          col("inconsistent") > 0 || col("parse_error") > 0
        auditOutputs(spark, stats.toDF(), corrupt,
          reasons = Seq("parse_error" -> (col("parse_error") > 0),
            "crc_bad" -> (col("crc_bad") > 0),
            "junk_bytes" -> (col("junk_bytes") > 0),
            "truncated" -> (col("truncated_bytes") > 0),
            "config_changes" -> (col("config_changes") > 0),
            "xing_inconsistent" -> (col("inconsistent") > 0)),
          perShard = Seq("frames" -> "n_frames",
            "crc_checked" -> "crc_checked", "crc_bad" -> "crc_bad",
            "junk_bytes" -> "junk_bytes",
            "truncated_bytes" -> "truncated_bytes",
            "config_changes" -> "config_changes",
            "inconsistent" -> "inconsistent",
            "parse_error" -> "parse_errors", "dur_ms" -> "dur_ms"),
          report = Seq("n_streams", "n_corrupt", "crc_bad",
            "truncated_bytes", "dur_ms"),
          savePath = req("save-path"), quarantine = a.get("quarantine"))
      // mixed video/image corruption-audit stage — the video/image
      // arms of audioaudit, same per-shard table + quarantine
      // contract, so one mixed corpus audits with two passes that
      // read ONLY their own modality's bytes (payloadFiles pushdown):
      //  - mp4/m4v/mov: container metadata via the real stbl/moof walk
      //    (mm12's posture — sample counts, sync cadence, duration,
      //    KBs/video, mdat never leaves the scan), sample byte ranges
      //    bounds-checked against the container (truncation), plus a
      //    FIRST-frame decode attempt (mm13's triage): an unsupported
      //    codec is a TYPED SIGNAL counted per shard — valid data the
      //    engine can't decode — never a quarantine row, while a
      //    decode failure on a supported codec is corruption;
      //  - webm/mkv: EBML header walk (mm24) — doctype, dimensions,
      //    duration, codec ids; VP8/VP9 payload decode stays a typed
      //    unsupported signal by the same adjudication;
      //  - jpeg/png/gif/bmp: the real image decode (mm05/mm01 tier) —
      //    dimensions out, undecodable bytes are corruption.
      case "mediaaudit" =>
        import graft.multimodal.{Mp4Probe, Mp4Samples, WebmProbe}
        def kindOf(name: String): String = {
          val n = name.toLowerCase(java.util.Locale.ROOT)
          n.substring(n.lastIndexOf('.') + 1) match {
            case "mp4" | "m4v" | "mov" => "mp4"
            case "webm" | "mkv" => "webm"
            case "jpg" | "jpeg" => "jpeg"
            case "png" => "png"
            case "gif" => "gif"
            case "bmp" => "bmp"
            case _ => ""
          }
        }
        val samples = WdsReader.read(spark, req("input"),
          graft.wds.TarIO.ReadOptions(
            payloadFiles = Some(n => kindOf(n).nonEmpty)))
        implicit val enc: org.apache.spark.sql.Encoder[MediaEntryStat] =
          org.apache.spark.sql.Encoders.product[MediaEntryStat]
        val stats = samples.flatMap { smp =>
          smp.entries.toSeq.flatMap { case (name, bytes) =>
            val kind = kindOf(name)
            val entryName =
              if (name.contains('.')) name else s"${smp.key}.$name"
            def bad = MediaEntryStat(smp.url, entryName, kind, "?",
              0L, 0L, 0, 0, 0L, 0L, 0, 0, 1)
            if (kind.isEmpty) None
            else Some(try {
              kind match {
                case "mp4" =>
                  Mp4Samples.parse(bytes) match {
                    case Some(t) =>
                      val meta = Mp4Probe.probe(bytes)
                      val truncated = (0 until t.frameCount).count(i =>
                        t.offsets(i) < 0 || t.sizes(i) < 0 ||
                          t.offsets(i) > bytes.length.toLong - t.sizes(i))
                        .toLong
                      val nKey =
                        if (t.sync.isEmpty) t.frameCount.toLong
                        else t.sync.length.toLong
                      var unsupported = 0
                      var decodeErr = 0
                      if (t.frameCount > 0 && truncated == 0L) {
                        try {
                          graft.pack.FrameSource.Mp4Frames
                            .frame(bytes, 0): Unit
                        } catch {
                          case graft.pack.FrameSource
                              .UnsupportedCodecException(_) =>
                            unsupported = 1
                          case scala.util.control.NonFatal(_) =>
                            decodeErr = 1
                        }
                      }
                      MediaEntryStat(smp.url, entryName, kind,
                        t.codec.trim, t.frameCount.toLong, nKey,
                        meta.width, meta.height,
                        math.round(t.durationSec * 1000), truncated,
                        unsupported, decodeErr, 0)
                    case None => bad // no complete sample table
                  }
                case "webm" =>
                  val m = WebmProbe.probe(bytes)
                  if (m.docType.isEmpty) bad
                  else MediaEntryStat(smp.url, entryName, kind,
                    m.codecs.headOption.getOrElse("?"), 0L, 0L,
                    m.width, m.height, math.round(m.durationSec * 1000),
                    0L, if (m.codecs.nonEmpty) 1 else 0, 0, 0)
                case _ =>
                  val img = graft.wds.Codecs.decodeImage(bytes)
                  MediaEntryStat(smp.url, entryName, kind, kind, 1L, 1L,
                    img.width, img.height, 0L, 0L, 0, 0, 0)
              }
            } catch { case scala.util.control.NonFatal(_) => bad })
          }
        }
        // corruption = structural damage; `unsupported` is deliberately
        // NOT corrupt (valid data behind a codec the engine triages)
        val corrupt = col("parse_error") > 0 ||
          col("truncated_samples") > 0 || col("decode_error") > 0
        auditOutputs(spark, stats.toDF(), corrupt,
          reasons = Seq("parse_error" -> (col("parse_error") > 0),
            "truncated" -> (col("truncated_samples") > 0),
            "decode_error" -> (col("decode_error") > 0)),
          perShard = Seq("frames" -> "n_frames",
            "key_frames" -> "key_frames",
            "truncated_samples" -> "truncated_samples",
            "unsupported" -> "unsupported",
            "decode_error" -> "decode_errors",
            "parse_error" -> "parse_errors", "dur_ms" -> "dur_ms"),
          report = Seq("n_streams", "n_corrupt", "n_frames",
            "unsupported", "dur_ms"),
          savePath = req("save-path"), quarantine = a.get("quarantine"))
      case other =>
        throw new IllegalArgumentException(s"unknown stage $other")
    }
  }

  /** The audit stages' shared outputs, from one entry-stat frame:
    *  - `--quarantine <path>`: one row per corrupt entry (shard url,
    *    tar member, kind, the comma-joined names of its true
    *    `reasons`), so a corrupt shard is actionable — the row names
    *    the file to re-fetch/drop, not just a rate;
    *  - `savePath`: per (shard, kind), the stream and corrupt-stream
    *    counts, each `perShard` (stat column → output name) sum, and
    *    `corrupt_ppm`;
    *  - returned: a bounded driver-side report, one row per kind,
    *    summing `report`'s columns of the per-shard table.
    * With a quarantine path the stat frame is persisted, so the audit
    * scan runs ONCE for both writes (entry stats are counters,
    * ~100 B/row — memory-cheap even when the scanned payloads are TBs),
    * and released however the writes end. */
  private def auditOutputs(spark: SparkSession, stats: DataFrame,
      corrupt: Column, reasons: Seq[(String, Column)],
      perShard: Seq[(String, String)], report: Seq[String],
      savePath: String, quarantine: Option[String]): DataFrame = {
    val statDf = if (quarantine.isDefined) stats.persist() else stats
    try {
      quarantine.foreach { qPath =>
        statDf.where(corrupt)
          .select(col("shard").as("url"), col("entry"), col("kind"),
            concat_ws(",", reasons.map { case (name, c) =>
              when(c, lit(name)) }: _*).as("reason"))
          .write.mode("overwrite").parquet(qPath)
      }
      statDf.groupBy(col("shard"), col("kind"))
        .agg(count(lit(1)).as("n_streams"),
          sum(when(corrupt, 1L).otherwise(0L)).as("n_corrupt") +:
            perShard.map { case (c, name) => sum(col(c)).as(name) }: _*)
        .withColumn("corrupt_ppm",
          (col("n_corrupt") * lit(1000000L) / col("n_streams"))
            .cast("long"))
        .write.mode("overwrite").parquet(savePath)
    } finally if (quarantine.isDefined) statDf.unpersist(): Unit
    val sums = report.map(c => sum(col(c)).as(c))
    spark.read.parquet(savePath).groupBy(col("kind"))
      .agg(sums.head, sums.tail: _*)
      .orderBy(col("kind"))
  }

  /** One video/image entry's audit result, pre-aggregation
    * (mediaaudit); same contract as [[AudioEntryStat]] — `entry`
    * names the tar member so `--quarantine` is actionable. */
  private[graft] final case class MediaEntryStat(
      shard: String, entry: String, kind: String, codec: String,
      frames: Long, key_frames: Long, width: Int, height: Int,
      dur_ms: Long, truncated_samples: Long, unsupported: Int,
      decode_error: Int, parse_error: Int)

  /** One audio entry's walk result, pre-aggregation (audioaudit).
    * `entry` (the tar member name) rides along so `--quarantine` can
    * point at the offending FILE, not just its shard. */
  private[graft] final case class AudioEntryStat(
      shard: String, entry: String, kind: String, frames: Long,
      crc_checked: Long, crc_bad: Long, junk_bytes: Long,
      truncated_bytes: Long, config_changes: Long, inconsistent: Int,
      dur_ms: Long, parse_error: Int)

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    val spark = GraftSession.build(
      s"graft-${a.getOrElse("stage", "pack")}", cpus = None)
    val info = run(spark, a)
    // stage outputs are lazily-built shard manifests — force + report
    info.collect().foreach(r => println(s"[pipeline] $r"))
    spark.stop()
  }
}
