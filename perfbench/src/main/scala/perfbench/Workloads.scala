package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import graft.Pipeline
import graft.curate.CurateStage
import graft.index.CheckStage
import graft.pack.{FrameSource, PackStage}
import graft.tokenize.{SpecialTokenTokenizer, SubwordModel, TokenizeStage, Tokenizers}
import graft.wds.{TarIO, WdsReader}
import org.apache.spark.sql.SparkSession

/** The workloads and one pass of the production path over them: pack →
  * tokenize → check over the workload's tar corpus, then curate over its
  * document table, each through the same public stage function
  * `graft.Pipeline.run` calls. */
object Workloads {

  // the reference's constants (pack/pack.py, tokenize/main.py)
  val SamplesPerTar = 500L
  val MergeGroup = 5
  val MaxTokens: Int = TokenizeStage.MaxTokens
  val Segments = 16

  val Stages: Seq[String] = Seq("pack", "tokenize", "index", "curate")

  /** `samples`: pack-stage input samples; their captions are also the
    * curate stage's documents. */
  final case class Spec(name: String, samples: Int, video: Boolean)

  val Clips: Corpus.ClipSpec = Corpus.ClipSpec(width = 32, height = 32,
    minFrames = 16, maxFrames = 24, gops = Seq(4, 6, 8, 12))

  // caption curation: quality/mix/exact dedup and the span filter —
  // the stage's defaults with the word floor lowered for short captions
  val CaptionCurate: CurateStage.CurateOptions =
    CurateStage.CurateOptions(minWords = 3)

  val specs: Map[String, Spec] = Seq(
    Spec("pipeline_text", samples = 500, video = false),
    Spec("pipeline_video", samples = 150, video = true),
  ).map(s => s.name -> s).toMap

  /** Generated inputs and what the generator made. */
  final case class Inputs(metaPath: String, mediaPrefix: String,
      docsPath: String, samples: Int, mediaBytes: Long) {
    def tars: Long = (samples + SamplesPerTar - 1) / SamplesPerTar
    def mergeGroups: Long = (tars + MergeGroup - 1) / MergeGroup
  }

  def generate(spark: SparkSession, spec: Spec, seed: Long, dir: Path,
      threads: Int): Inputs = {
    import spark.implicits._
    val caps =
      if (spec.video) Corpus.shortCaptions(seed, spec.samples)
      else Corpus.longCaptions(seed, spec.samples)
    Corpus.writeJsonl(caps, dir.resolve("meta.jsonl"))
    val mediaBytes =
      if (spec.video)
        Corpus.writeClips(seed, caps, Clips, dir.resolve("media"), threads)
      else 0L
    val docsPath = dir.resolve("docs.parquet").toUri.toString
    Corpus.captionDocs(caps).toDF().coalesce(1).write.parquet(docsPath)
    // synthetic media derive from the path string, so text paths stay
    // relative: the digest must not depend on where the checkout lives
    val prefix =
      if (spec.video) dir.resolve("media").toUri.toString + "/" else "media/"
    Inputs(dir.resolve("meta.jsonl").toUri.toString, prefix, docsPath,
      caps.length, mediaBytes)
  }

  /** Per stage, the wall time (ms) of each call, and everything checked
    * or traced (from the last call of each stage). A stage's time is the
    * median of its later half of calls: the earlier ones still finish
    * JIT warm-up. */
  final case class PassResult(stageMs: Map[String, Seq[Double]],
      digest: String, bins: Long, tokens: Long, tokBytes: Long, writtenBytes: Long, peakHeapBytes: Long,
      fsRead: Map[String, Long], fsWrite: Map[String, Long],
      spans: Map[String, (Long, Long)]) {
    def medianMs(stage: String): Double = {
      val ms = stageMs(stage)
      Stats.median(ms.drop(ms.length / 2))
    }
    def wallMs: Double = stageMs.keys.toSeq.map(medianMs).sum
  }

  /** Bounds on repeated calls of one stage in a measured pass. */
  val MinCalls = 3
  val MaxCalls = 8

  private val syntheticMedia: String => Array[Byte] =
    p => p.getBytes(UTF_8)

  /** One pass. Each stage is called repeatedly, its output dir cleared
    * before each call, until its calls add up to `budgetMs` — at least
    * [[MinCalls]] times when one call is shorter than twice the budget,
    * once otherwise; every repeat must return what the first call did, and the
    * last call's output feeds the next stage. `probes`/`tracer` switch
    * the traced run on: decorators wrap the callbacks and each stage
    * call runs under its own job group. Throws if an output check
    * fails. */
  def pass(spark: SparkSession, spec: Spec, in: Inputs, model: SubwordModel,
      out: Path, probes: Option[Probes], tracer: Option[Tracer],
      tag: String, budgetMs: Double = 0): PassResult = {
    val sc = spark.sparkContext
    Files.createDirectories(out)
    Files.list(out).iterator().asScala.foreach(Files2.deleteTree)
    val stageMs = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    val fsRead, fsWrite = scala.collection.mutable.Map.empty[String, Long]
    val spanMs = scala.collection.mutable.Map.empty[String, (Long, Long)]
    val passSpan = tracer.map(_.open(tag, "pass", -1,
      System.currentTimeMillis()))
    Heap.resetPeak()

    def call[T](name: String)(body: => T): T = {
      val group = s"$name@$tag"
      // untimed: a collection inside a short call is host noise
      System.gc()
      val callSpan = tracer.map(_.open(name, "stage_call", passSpan.get,
        System.currentTimeMillis(), Some(group)))
      if (tracer.nonEmpty) sc.setJobGroup(group, name, false)
      val (r0, w0) = Tracer.fsBytes()
      val t0ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        stageMs(name) = stageMs.getOrElse(name, Nil) :+
          (System.nanoTime() - t0) / 1e6
        val t1ms = System.currentTimeMillis()
        val (r1, w1) = Tracer.fsBytes()
        fsRead(name) = r1 - r0
        fsWrite(name) = w1 - w0
        spanMs(name) = (t0ms, t1ms)
        if (tracer.nonEmpty) sc.clearJobGroup()
        for (t <- tracer; s <- callSpan) t.close(s, t1ms)
      }
    }

    def stage[T](name: String, outDir: Option[Path], show: T => Seq[String])
        (body: => T): T = {
      val first = call(name)(body)
      var last = first
      def more = {
        val ms = stageMs(name)
        ms.length < MaxCalls && (ms.sum < budgetMs ||
          (ms.length < MinCalls && ms.head < 2 * budgetMs))
      }
      while (more) {
        outDir.foreach(Files2.deleteTree)
        last = call(name)(body)
        require(show(last) == show(first),
          s"$name: a repeated call returned a different result")
      }
      last
    }
    def rows(rs: Array[org.apache.spark.sql.Row]) = rs.toSeq.map(_.toString)

    val (packPath, tokPath) = (out.resolve("pack"), out.resolve("tok"))
    val packDir = packPath.toUri.toString
    val tokDir = tokPath.toUri.toString
    val curDir = out.resolve("curated").toUri.toString

    val packManifest = stage("pack", Some(packPath), rows) {
      val meta = Pipeline.loadMeta(spark, "internvid", in.metaPath,
        in.mediaPrefix)
      val frames0: FrameSource =
        if (spec.video) FrameSource.Mp4Frames else FrameSource.Synthetic
      val media0 =
        if (spec.video) Pipeline.hadoopMedia(spark) else syntheticMedia
      val opts = PackStage.PackOptions(
        samplerType = PackStage.SamplerType.Uniform,
        numSegments = Segments, samplesPerTar = SamplesPerTar,
        frames = probes.fold(frames0)(_.frameSource(frames0)),
        alignShards = true)
      PackStage.run(meta, packDir, opts, probes.fold(media0)(_.media(media0)))
        .collect()
    }
    val packUrls = packManifest.map(r => (r.getAs[Int]("partition"),
      r.getAs[String]("url"))).sorted.map(_._2).toSeq

    val tokManifest = stage("tokenize", Some(tokPath), rows) {
      val tok = new SpecialTokenTokenizer(
        probes.fold(model)(_.subwordModel(model)),
        Tokenizers.MultimodalSpecials)
      TokenizeStage.run(
        WdsReader.readUrlsGrouped(spark, packUrls, MergeGroup), tokDir, tok,
        MaxTokens, sampleType = "un").collect()
    }
    val tokUrls = tokManifest.map(_.getAs[String]("url")).sorted.toSeq

    val index = stage("index", None, rows) {
      // json-only payload read, as the CLI's check stage does
      CheckStage.index(WdsReader.readUrls(spark, tokUrls,
        TarIO.ReadOptions(payloadFiles = Some(_.endsWith(".json")))),
        strict = true).collect()
    }

    val stats = stage("curate", None, rows) {
      val res = CurateStage.run(spark.read.parquet(in.docsPath), CaptionCurate)
      try {
        res.curated.write.mode("overwrite").parquet(curDir)
        res.stats.collect()
      } finally res.close()
    }
    val peak = Heap.peakBytes()
    for (t <- tracer; s <- passSpan) t.close(s, System.currentTimeMillis())

    // ---- output checks (outside the timed stage calls) ----
    val bins = tokManifest.map(_.getAs[Long]("nsamples")).sum
    val indexed = index.map(_.getAs[Long]("nsamples")).sum
    require(packUrls.length == in.tars,
      s"pack wrote ${packUrls.length} tars, expected ${in.tars}")
    require(indexed == bins,
      s"check indexed $indexed samples, tokenize wrote $bins")
    val tok = Digest.tokenized(tokUrls)
    require(tok.samples == bins, s"read back ${tok.samples} of $bins bins")
    val cur = Digest.curated(spark, curDir, stats.head)
    PassResult(stageMs.toMap, Digest.combine(tok.hex, cur), bins,
      tok.tokens, Files2.sizeOf(tokPath, ".tar"),
      Files2.sizeOf(out, ".tar") + Files2.sizeOf(out, ".parquet"), peak,
      fsRead.toMap, fsWrite.toMap, spanMs.toMap)
  }
}

/** Logical-content digests: what the stages produced, not how the
  * bytes were laid out in files. */
object Digest {
  final case class Tok(hex: String, samples: Long, tokens: Long)

  private def sha(): MessageDigest = MessageDigest.getInstance("SHA-256")
  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  /** Every tokenized sample's key and entries (name + bytes), ordered
    * by key then content; also counts samples and input tokens. */
  def tokenized(urls: Seq[String]): Tok = {
    var tokens = 0L
    val perSample = urls.flatMap { u =>
      val in = Files.newInputStream(java.nio.file.Paths.get(new java.net.URI(u)))
      try TarIO.readSamples(in, u).map { s =>
        val d = sha()
        s.entries.toSeq.sortBy(_._1).foreach { case (k, v) =>
          d.update(k.getBytes(UTF_8)); d.update(0: Byte)
          d.update(BigInt(v.length).toByteArray); d.update(v)
        }
        s.utf8("json").foreach(j => tokens += Digest.countIds(j))
        (s.key, hex(d.digest()))
      }.toVector
      finally in.close()
    }.sorted
    val d = sha()
    perSample.foreach { case (k, h) =>
      d.update(s"$k\u0000$h\n".getBytes(UTF_8))
    }
    Tok(hex(d.digest()), perSample.length.toLong, tokens)
  }

  /** Length of the json's `input_ids` array, without a full parse. */
  def countIds(json: String): Long = {
    val at = json.indexOf("\"input_ids\":[")
    if (at < 0) 0L
    else {
      val from = at + "\"input_ids\":[".length
      val to = json.indexOf(']', from)
      if (to == from) 0L
      else json.substring(from, to).count(_ == ',') + 1L
    }
  }

  /** Curated rows in doc_id order plus the funnel stats row. */
  def curated(spark: SparkSession, dir: String,
      stats: org.apache.spark.sql.Row): String = {
    val d = sha()
    spark.read.parquet(dir).orderBy("doc_id").collect().foreach(r =>
      d.update((r.mkString("\u0001") + "\n").getBytes(UTF_8)))
    d.update(stats.mkString("\u0001").getBytes(UTF_8))
    hex(d.digest())
  }

  def combine(parts: String*): String = {
    val d = sha()
    parts.foreach(p => d.update(p.getBytes(UTF_8)))
    hex(d.digest())
  }
}

object Heap {
  private def pools = java.lang.management.ManagementFactory
    .getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetPeak(): Unit = pools.foreach(_.resetPeakUsage())
  def peakBytes(): Long = pools.map(_.getPeakUsage.getUsed).sum
}

object Files2 {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .iterator().asScala.foreach(Files.delete)
    finally s.close()
  }

  /** Total size of the files under `p` whose names end with `suffix`. */
  def sizeOf(p: Path, suffix: String): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.iterator().asScala
      .filter(f => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(suffix))
      .map(Files.size).sum
    finally s.close()
  }
}
