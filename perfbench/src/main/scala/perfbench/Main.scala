package perfbench

import java.nio.file.{Files, Path, Paths}

import graft.tokenize.SentencePieceModel
import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload in one JVM on `local[N]`.
  *
  * {{{
  * Main --workload pipeline_text --seed 1 --seconds 8 --trace 0 \
  *   --work .bench_build/work --model src/test/resources/tiny.model
  * }}}
  *
  * Set-up (session start, corpus generation — repeated, median taken —
  * and one warm-up pass) is timed as `setup_s`. Then one pass samples
  * each stage call for a quarter of `--seconds` and reports medians.
  * `--trace 1` instead alternates untraced and traced passes of single
  * calls for `--seconds` and reports per-layer counters. The last stdout
  * line is the result object. */
object Main {

  val GenReps = 3

  def main(args: Array[String]): Unit = {
    val a = graft.Pipeline.parseArgs(args)
    val spec = Workloads.specs.getOrElse(a("workload"),
      throw new IllegalArgumentException(s"unknown workload ${a("workload")}" +
        s" (one of ${Workloads.specs.keys.toSeq.sorted.mkString(", ")})"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val nproc = Runtime.getRuntime.availableProcessors()
    val n = math.max(1, math.min(4, nproc))
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime

    Files2.deleteTree(work)
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName(s"perfbench-${spec.name}")
      .config("spark.sql.shuffle.partitions", n.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.checkpoint.dir", work.resolve("ckpt").toString)
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("WARN")
      val model = SentencePieceModel.fromFile(a("model"))
      val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

      // corpus generation, repeated so set-up time is a median too
      val genS = (0 until GenReps).map { k =>
        Files2.deleteTree(work.resolve(s"gen${k - 1}"))
        val t0 = System.nanoTime()
        val in = Workloads.generate(spark, spec, seed, work.resolve(s"gen$k"), n)
        (in, (System.nanoTime() - t0) / 1e9)
      }
      val in = genS.last._1
      val out = work.resolve("out")
      val t0 = System.nanoTime()
      // the warm-up repeats stage calls as the measured pass will: one
      // pass leaves the later calls of a stage still speeding up
      val budgetMs = seconds * 1000 / Workloads.Stages.length
      val warm = Workloads.pass(spark, spec, in, model, out, None, None,
        "warm", budgetMs)
      val warmS = (System.nanoTime() - t0) / 1e9
      val setupS = sessionS + Stats.median(genS.map(_._2)) + warmS
      val pinned = Pinned.lookup(a.get("pinned"), spec.name, seed)
      val pinnedOk = pinned.forall(_ == warm.digest)
      if (!pinnedOk)
        System.err.println(s"[perfbench] digest ${warm.digest} != pinned " +
          pinned.get)

      val probes = if (trace) Some(new Probes(spark.sparkContext)) else None
      val tracer = if (trace) Some(new Tracer) else None
      tracer.foreach(spark.sparkContext.addSparkListener)

      val untraced, traced =
        scala.collection.mutable.ArrayBuffer.empty[Workloads.PassResult]
      val layers = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
      var attempted, failed = 0
      def measure(tracedPass: Boolean, budgetMs: Double): Unit = {
        val tag = s"p${untraced.length + traced.length + failed}"
        try {
          probes.foreach(_.reset())
          val r = Workloads.pass(spark, spec, in, model, out,
            probes.filter(_ => tracedPass), tracer.filter(_ => tracedPass),
            tag, budgetMs)
          attempted += r.stageMs.values.map(_.length).sum
          require(r.digest == warm.digest,
            s"pass digest ${r.digest} != warm-up digest ${warm.digest}")
          if (tracedPass) {
            org.apache.spark.GraftSparkShim.drainListenerBus(spark.sparkContext)
            layers += Layers.of(r, tracer.get, probes.get, n, tag)
            traced += r
          } else untraced += r
        } catch {
          case e: Exception =>
            attempted = math.max(attempted, 1)
            failed += 1
            System.err.println(s"[perfbench] pass $tag failed: $e")
            e.printStackTrace()
        }
      }
      if (!trace)
        // one pass; each stage sampled for a quarter of the window
        measure(tracedPass = false, budgetMs)
      else {
        // single calls, alternating untraced and traced passes
        val t0 = System.nanoTime()
        var k = 0
        while (((System.nanoTime() - t0) / 1e9 < seconds || traced.isEmpty ||
            untraced.isEmpty) && failed <= 2) {
          measure(tracedPass = k % 2 == 1, 0)
          k += 1
        }
      }
      tracer.foreach { t =>
        spark.sparkContext.removeSparkListener(t)
        Files.write(work.resolve(s"trace-${spec.name}.json"),
          Tracer.toJson(t.spans).getBytes("UTF-8"))
      }

      val overheadS =
        if (traced.isEmpty || untraced.isEmpty) 0.0
        else (Stats.median(traced.map(_.wallMs)) -
          Stats.median(untraced.map(_.wallMs))) / 1e3
      val metrics: Seq[(String, Double, String)] =
        if (!trace) endToEnd(in, untraced.toSeq, setupS)
        else Layers.median(layers.toSeq) :+
          (("trace.overhead_s", overheadS, "s"))
      val correct = pinnedOk && failed == 0 && (untraced ++ traced).nonEmpty

      println(Json.obj("stamp" -> Json.obj(
        "workload" -> spec.name, "seed" -> seed, "nproc" -> nproc, "N" -> n,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark" -> spark.version, "git_head" -> a.getOrElse("git-head", "unknown"),
        "passes" -> (untraced.length + traced.length), "stage_calls" -> attempted,
        "measured_s" -> seconds, "trace" -> trace,
        "tracing_overhead_s" -> overheadS,
        "session_s" -> sessionS, "gen_s" -> genS.map(_._2),
        "warmup_s" -> warmS, "digest" -> warm.digest,
        "stage_calls_ms" -> Json.obj(untraced.headOption.toSeq.flatMap(
          _.stageMs.toSeq.map { case (k, v) => k -> v.map(_.round) }): _*),
        "pinned" -> pinned.getOrElse(""),
        "samples" -> in.samples, "tars" -> in.tars,
        "merge_groups" -> in.mergeGroups,
        "media_mb" -> in.mediaBytes / 1048576.0,
        "clip" -> (if (spec.video) Workloads.Clips.toString else ""))).s)
      println(Json.obj(
        "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
        "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
          k -> Json.obj("value" -> v, "unit" -> u) }: _*)).s)
    } finally spark.stop()
  }

  /** End-to-end metrics: medians over the untraced measured passes. */
  def endToEnd(in: Workloads.Inputs,
      ps: Seq[Workloads.PassResult], setupS: Double)
      : Seq[(String, Double, String)] = {
    def med(f: Workloads.PassResult => Double) =
      if (ps.isEmpty) 0.0 else Stats.median(ps.map(f))
    Seq(
      ("samples_per_s", med(p => in.samples / (p.wallMs / 1e3)), "1/s"),
      ("pack_s", med(_.medianMs("pack") / 1e3), "s"),
      ("tokenize_s", med(_.medianMs("tokenize") / 1e3), "s"),
      ("check_s", med(_.medianMs("index") / 1e3), "s"),
      ("curate_s", med(_.medianMs("curate") / 1e3), "s"),
      ("setup_s", setupS, "s"),
      ("peak_heap_mb", med(_.peakHeapBytes / 1048576.0), "MB"),
      ("written_mb", med(_.writtenBytes / 1048576.0), "MB"))
  }
}

/** Per-layer metrics of one traced pass. */
object Layers {
  def of(r: Workloads.PassResult, t: Tracer, p: Probes, n: Int,
      tag: String): Map[String, Double] = {
    val mb = 1048576.0
    val perStage = Workloads.Stages.flatMap { s =>
      val c = t.counter(s"$s@$tag")
      val wallS = r.medianMs(s) / 1e3
      val (t0, t1) = r.spans(s)
      val cpuS = c.cpuNs / 1e9
      Seq(
        s"$s.jobs" -> c.jobs.toDouble,
        s"$s.tasks" -> c.tasks.toDouble,
        s"$s.cpu_s" -> cpuS,
        s"$s.efficiency" -> cpuS / (wallS * n),
        s"$s.max_task_s" -> c.maxTaskMs / 1e3,
        s"$s.driver_s" -> (t1 - t0 - Tracer.covered(c.jobIntervals.toSeq, t0, t1)) / 1e3,
        s"$s.sched_wait_s" -> c.schedDelayMs / 1e3,
        s"$s.shuffle_mb" -> c.shuffleBytes / mb,
        s"$s.fetch_wait_s" -> c.fetchWaitMs / 1e3,
        s"$s.spill_mb" -> c.spillBytes / mb,
        s"$s.gc_s" -> c.gcMs / 1e3,
        s"$s.read_mb" -> r.fsRead(s) / mb,
        s"$s.write_mb" -> r.fsWrite(s) / mb)
    }
    (perStage ++ Seq(
      "wds.media_read_s" -> p.mediaNs.value / 1e9,
      "wds.media_read_mb" -> p.mediaBytes.value / mb,
      "multimodal.decode_s" -> p.decodeNs.value / 1e9,
      "multimodal.frames" -> p.frames.value.toDouble,
      "tokenize.encode_s" -> p.encodeNs.value / 1e9,
      "tokenize.pieces" -> p.pieces.value.toDouble,
      "tokenize.bins" -> r.bins.toDouble,
      "tokenize.fill" -> r.tokens.toDouble /
        (r.bins * Workloads.MaxTokens.toDouble),
      "index.read_frac" -> r.fsRead("index") / r.tokBytes.toDouble)).toMap
  }

  val Units: Map[String, String] = Map("jobs" -> "count", "tasks" -> "count",
    "efficiency" -> "ratio", "frames" -> "count", "pieces" -> "count",
    "bins" -> "count", "fill" -> "ratio", "read_frac" -> "ratio")
  def unit(name: String): String = {
    val leaf = name.substring(name.indexOf('.') + 1)
    Units.getOrElse(leaf, if (leaf.endsWith("_mb")) "MB" else "s")
  }

  def median(passes: Seq[Map[String, Double]]): Seq[(String, Double, String)] =
    if (passes.isEmpty) Nil
    else passes.head.keys.toSeq.sorted.map(k =>
      (k, Stats.median(passes.map(_(k))), unit(k)))
}

object Stats {
  def median(xs: collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

/** Digests pinned per (workload, seed) in a small JSON file:
  * `{"pipeline_text": {"1": "<sha256>", ...}, ...}`. */
object Pinned {
  def lookup(file: Option[String], workload: String, seed: Long): Option[String] =
    file.map(Paths.get(_)).filter(Files.exists(_)).flatMap { p =>
      import org.json4s._
      implicit val fmts: Formats = DefaultFormats
      val j = org.json4s.jackson.JsonMethods.parse(
        new String(Files.readAllBytes(p), "UTF-8"))
      (j \ workload \ seed.toString).extractOpt[String]
    }
}

/** Minimal JSON writer for the result lines. */
object Json {
  final case class Raw(s: String)
  def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case i: Int => i.toString
    case l: Long => l.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kvs: (String, Any)*): Raw =
    Raw(kvs.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))
}
