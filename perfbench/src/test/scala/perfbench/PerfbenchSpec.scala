package perfbench

import java.nio.file.{Files, Path, Paths}

import graft.pack.FrameSource
import graft.tokenize.SentencePieceModel
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .appName("perfbench-spec")
    .config("spark.sql.shuffle.partitions", 2L)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  private lazy val tmp = Files.createTempDirectory("perfbench-spec")
  private lazy val model = SentencePieceModel.fromFile(
    "src/test/resources/tiny.model")

  override def afterAll(): Unit = {
    spark.stop()
    Files2.deleteTree(tmp)
  }

  private def small(name: String, samples: Int) =
    Workloads.specs(name).copy(samples = samples)

  private def files(dir: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => dir.relativize(f).toString -> Files.readAllBytes(f).toSeq)
        .filterNot(_._1.contains("parquet")).toMap
    } finally s.close()
  }

  test("the same seed generates identical inputs, another seed others") {
    assert(Corpus.longCaptions(7, 30) == Corpus.longCaptions(7, 30))
    assert(Corpus.longCaptions(7, 30) != Corpus.longCaptions(8, 30))
    assert(Corpus.shortCaptions(7, 30) == Corpus.shortCaptions(7, 30))
    val c = Workloads.Clips
    assert(Corpus.clip(7, 3, c).toSeq == Corpus.clip(7, 3, c).toSeq)
    assert(Corpus.clip(7, 3, c).toSeq != Corpus.clip(8, 3, c).toSeq)
    // generation on several threads writes the same bytes as on one
    val spec = small("pipeline_video", 12)
    Workloads.generate(spark, spec, 7, tmp.resolve("g1"), 1)
    Workloads.generate(spark, spec, 7, tmp.resolve("g4"), 4)
    val (a, b) = (files(tmp.resolve("g1")), files(tmp.resolve("g4")))
    assert(a.nonEmpty && a == b)
  }

  test("two runs and a traced run produce equal digests") {
    for (name <- Seq("pipeline_video", "pipeline_text")) {
      val spec = small(name, 24)
      val in1 = Workloads.generate(spark, spec, 5, tmp.resolve(s"$name-a"), 2)
      val in2 = Workloads.generate(spark, spec, 5, tmp.resolve(s"$name-b"), 2)
      val out = tmp.resolve(s"$name-out")
      val r1 = Workloads.pass(spark, spec, in1, model, out, None, None, "a")
      val r2 = Workloads.pass(spark, spec, in2, model, out, None, None, "b")
      val probes = new Probes(spark.sparkContext)
      val tracer = new Tracer
      spark.sparkContext.addSparkListener(tracer)
      val r3 = try Workloads.pass(spark, spec, in1, model, out,
        Some(probes), Some(tracer), "c")
      finally spark.sparkContext.removeSparkListener(tracer)
      assert(r1.digest == r2.digest, name)
      assert(r1.digest == r3.digest, name)
      assert(r1.bins > 0 && in1.tars == 1, name)
      assert(probes.pieces.value > 0 && probes.frames.value > 0, name)
    }
  }

  test("the decorators pass every call through unchanged") {
    val clip = Corpus.clip(11, 0, Workloads.Clips.copy(gops = Seq(4)))
    val inner = FrameSource.Mp4Frames
    val probes = new Probes(spark.sparkContext)
    val timed = probes.frameSource(inner)
    val n = inner.frameCount(clip)
    assert(timed.frameCount(clip) == n && timed.fps(clip) == inner.fps(clip))
    assert(timed.frameTypes(clip) == inner.frameTypes(clip))
    // the witness that matters: a decorator inheriting the trait default
    // would report the synthetic 1-in-10 cadence instead
    val traitDefault = IndexedSeq.tabulate(n)(i => if (i % 10 == 0) 'I' else 'P')
    assert(inner.frameTypes(clip) != traitDefault)
    for (i <- Seq(0, 3, n - 1)) {
      assert(timed.frame(clip, i).toSeq == inner.frame(clip, i).toSeq)
      val (a, b) = (timed.frameImage(clip, i), inner.frameImage(clip, i))
      assert(a.data.toSeq == b.data.toSeq && a.width == b.width)
    }
    assert(probes.frames.value == 6 && probes.decodeNs.value > 0)

    val sm = probes.subwordModel(model)
    val text = "spark window merge table in the batch query"
    assert(sm.encode(text) == model.encode(text))
    assert(probes.pieces.value == model.encode(text).length)

    val media = probes.media(p => p.getBytes("UTF-8"))
    assert(media("abc").toSeq == "abc".getBytes("UTF-8").toSeq)
    assert(probes.mediaBytes.value == 3)
  }

  test("every metric in BENCHMARK.json is reported, each with a unit") {
    implicit val fmts: Formats = DefaultFormats
    val bench = JsonMethods.parse(new String(
      Files.readAllBytes(Paths.get("BENCHMARK.json")), "UTF-8"))
    def declared(k: String) = (bench \ k).extract[Seq[Map[String, Any]]]
      .map(m => m("name").toString -> m("unit").toString).toMap
    val in = Workloads.Inputs("", "", "", 500, 0L)
    val fake = Workloads.PassResult(
      Workloads.Stages.map(_ -> Seq(1000.0)).toMap, "", 10, 100, 1000, 1000,
      1 << 20, Workloads.Stages.map(_ -> 1L).toMap,
      Workloads.Stages.map(_ -> 1L).toMap,
      Workloads.Stages.map(_ -> (0L, 1000L)).toMap)
    val e2e = Main.endToEnd(in, Seq(fake), 1.0)
      .map { case (k, _, u) => k -> u }.toMap
    assert(e2e == declared("end_to_end"))

    val tracer = new Tracer
    Workloads.Stages.foreach(s => tracer.open(s, "stage_call", -1, 0L,
      Some(s"$s@t")))
    val layers = Layers.median(Seq(Layers.of(fake, tracer,
      new Probes(spark.sparkContext), 2, "t")))
      .map { case (k, _, u) => k -> u }.toMap + ("trace.overhead_s" -> "s")
    assert(layers == declared("per_layer"))
  }

  test("covered time merges overlapping job intervals") {
    assert(Tracer.covered(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 0L, 35L) == 25L)
    val spans = Seq(Tracer.Span(0, -1, "pass", "p", 0, 100),
      Tracer.Span(1, 0, "stage_call", "pack", 10, 60),
      Tracer.Span(2, 1, "job", "job 0", 20, 40))
    assert(Tracer.selfTimes(spans) == Map(0 -> 50L, 1 -> 30L, 2 -> 20L))
  }
}
